"""Slowly Changing Dimension Type 2 — attribute history with validity
intervals, both as a batch derivation and as an incremental MERGE-maintained
table.

The reference's bronze extracts keep only the LATEST image per key
(``ROW_NUMBER() ... ORDER BY _ingested_at DESC`` then ``_rn = 1``,
src/extract/extract_customers.py:62 — SCD Type 1): history is discarded at
ingest. SCD Type 2 is the standard lakehouse extension of that exact
pattern — instead of overwriting, each attribute change CLOSES the current
row (sets ``valid_to``) and INSERTS a new version, so every historical
state stays queryable ("what tier was this user on March 3rd"). It is the
canonical Delta ``MERGE`` showcase, and here it exercises this repo's
merge machinery the same way: close + insert = one keyed upsert.

Two faces, one semantics:

- ``scd2_user_tier_history`` (registry, oracle-checked): derive the full
  SCD2 history in one batch pass from the event log. Consecutive equal
  observations collapse into one validity interval via the run-collapse
  (gaps-and-islands) window — change marker -> cumulative run id -> group
  to intervals -> LEAD gives ``valid_to``. Every window partitions by
  ``user_id``: ONE shuffle, no global stage, embarrassingly parallel at
  100 TB.
- ``scd2_apply_batch`` (incremental): maintain the same table from
  arriving observation micro-batches. Each batch touches only its users'
  open rows: the stored current row re-enters the run-collapse as a
  seed pseudo-observation carrying its version and observation count, so
  the merged output is exactly the batch derivation restricted to touched
  users. Writes go through :func:`merge_upsert` on ``(user_id, version)``
  bucketed by ``user_id`` — bucket-pruned reads, O(batch) work per apply,
  never a history rescan. Multi-batch convergence to the batch derivation
  is asserted in tests.

Contract (the standard streaming-SCD2 one): batches are applied in
per-user event-time order (a watermark upstream provides this).
Re-deliveries are handled: every stored row carries the user's
observation high-water mark and at-or-below observations are dropped, so
a replayed batch (foreachBatch at-least-once) is a no-op.

The tracked attribute here is a user "tier" derived deterministically from
the event payload (``props`` JSON's integer, mod ``TIER_MOD``) — the
corpus has no mutable dimension table, so the event stream plays the role
of the CDC feed that a production SCD2 consumes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load_table
from .incremental import merge_upsert, read_merge_target
from .tuning import copy_events, drain_once

TIER_MOD = 4  # distinct tracked-attribute values: tier in {0..3}

_HISTORY_COLS = [
    "user_id",
    "version",
    "tier",
    "valid_from",
    "valid_to",
    "is_current",
    "n_obs",
]


def _obs_of(ev: DataFrame) -> DataFrame:
    """Observation shape of an events-shaped frame: every event observes
    its user's tier (payload integer mod TIER_MOD) at the event's
    timestamp. Shared by the batch derivation and the streaming
    foreachBatch transform."""
    return ev.select(
        "user_id",
        "ts",
        "event_id",
        (
            F.regexp_extract("props", r"[0-9]+", 0).cast("int") % TIER_MOD
        ).alias("tier"),
    )


def _tier_observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _obs_of(load_table(spark, sf_dir, "events"))


def scd2_collapse(
    obs: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    tiebreak: str = "event_id",
    attr: str = "tier",
) -> DataFrame:
    """Collapse an observation stream into SCD2 validity intervals.

    Run-collapse: a change marker (attribute differs from the previous
    observation, null-safe so the first row always starts run 1) is
    cumulatively summed into a per-key version number; grouping by
    ``(key, version)`` yields one row per run with ``valid_from = MIN(ts)``
    and ``n_obs`` observations; ``LEAD(valid_from)`` over versions closes
    each interval (NULL = still current). Both windows and the group-by
    partition on ``key`` alone — one shuffle end to end.

    Optional seed columns (for the incremental path): ``__seed_version``
    (the stored version the first run continues from; absent/NULL rows
    default the key's base version to 1) and ``__weight`` (how many
    historical observations a pseudo-observation stands for; defaults 1).
    """
    cols = obs.columns
    if "__weight" not in cols:
        obs = obs.withColumn("__weight", F.lit(1).cast("long"))
    if "__seed_version" not in cols:
        obs = obs.withColumn("__seed_version", F.lit(None).cast("int"))
    w_ord = Window.partitionBy(key).orderBy(ts_col, tiebreak)
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_key = Window.partitionBy(key)
    runs = (
        obs.withColumn(
            "__chg",
            (~F.lag(attr).over(w_ord).eqNullSafe(F.col(attr))).cast("int"),
        )
        .withColumn("__run", F.sum("__chg").over(w_cum))
        .withColumn(
            "__base", F.coalesce(F.max("__seed_version").over(w_key), F.lit(1))
        )
        .withColumn("version", (F.col("__base") + F.col("__run") - 1).cast("int"))
    )
    grouped = runs.groupBy(key, "version").agg(
        F.min(attr).alias(attr),  # constant within a run by construction
        F.min(ts_col).alias("valid_from"),
        F.sum("__weight").alias("n_obs"),
    )
    w_ver = Window.partitionBy(key).orderBy("version")
    return (
        grouped.withColumn("valid_to", F.lead("valid_from").over(w_ver))
        .withColumn("is_current", F.col("valid_to").isNull())
        .select(key, "version", attr, "valid_from", "valid_to", "is_current", "n_obs")
    )


def scd2_user_tier_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registry face: full SCD2 tier history derived from the event
    log in one pass. Output grain: one row per (user, attribute run)."""
    return scd2_collapse(_tier_observations(spark, sf_dir))


SCD2_HISTORY_ORACLE = f"""
WITH obs AS (
    SELECT user_id, ts, event_id,
           CAST(regexp_extract(props, '[0-9]+', 0) AS INT) % {TIER_MOD} AS tier
    FROM events
),
marked AS (
    SELECT *, CASE WHEN lag(tier) OVER w IS NOT DISTINCT FROM tier
                   THEN 0 ELSE 1 END AS chg
    FROM obs
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
    SELECT *, CAST(SUM(chg) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS INT) AS version FROM marked
),
grouped AS (
    SELECT user_id, version, MIN(tier) AS tier, MIN(ts) AS valid_from,
           CAST(COUNT(*) AS BIGINT) AS n_obs
    FROM runs GROUP BY user_id, version
)
SELECT user_id, version, tier, valid_from,
       LEAD(valid_from) OVER w2 AS valid_to,
       (LEAD(valid_from) OVER w2 IS NULL) AS is_current,
       n_obs
FROM grouped
WINDOW w2 AS (PARTITION BY user_id ORDER BY version)"""


def scd2_apply_batch(
    spark: SparkSession,
    obs: DataFrame,
    target_path: str,
    num_buckets: int = 16,
) -> None:
    """Apply one micro-batch of observations ``(user_id, ts, event_id,
    tier)`` to the SCD2 table at ``target_path``.

    Touched users' CURRENT rows re-enter the run-collapse as seed
    pseudo-observations (ts = their ``valid_from``, which precedes every
    in-order batch observation; weight = their stored ``n_obs``; version
    seeds the numbering), so the collapse emits, per touched user, the
    corrected current row — possibly closed by a ``valid_to``, possibly
    just fatter by ``n_obs`` — plus any new versions. The upsert on
    ``(user_id, version)`` overwrites the stale open row and inserts the
    rest; historical versions are never read or written. Work per apply
    is O(batch + touched open rows); the merge reads only the touched
    ``user_id`` hash buckets.

    REPLAY-IDEMPOTENT (the foreachBatch at-least-once contract): every
    stored row carries the user's observation high-water mark
    (``last_ts``, ``last_event_id``), and an incoming observation at or
    below it is an already-absorbed re-delivery and is dropped before
    the collapse — a crash between the merge commit and the streaming
    checkpoint re-delivers the batch, and the second apply is a no-op
    (asserted in tests). This is the observation-level twin of the keyed
    upserts that make the repo's other foreachBatch consumers replayable.
    """
    obs = obs.select("user_id", "ts", "event_id", "tier")
    seeds = None
    if os.path.isdir(target_path):
        current = read_merge_target(spark, target_path).filter(
            F.col("is_current")
        )
        # drop re-delivered observations: at-or-below the stored per-user
        # high-water mark means already absorbed by an earlier apply
        hw = current.select("user_id", "last_ts", "last_event_id")
        obs = (
            obs.join(hw, "user_id", "left")
            .filter(
                F.col("last_ts").isNull()
                | (F.col("ts") > F.col("last_ts"))
                | (
                    (F.col("ts") == F.col("last_ts"))
                    & (F.col("event_id") > F.col("last_event_id"))
                )
            )
            .drop("last_ts", "last_event_id")
        )
        seeds = (
            current.join(obs.select("user_id").distinct(), "user_id", "left_semi")
            .select(
                "user_id",
                F.col("valid_from").alias("ts"),
                F.lit(-1).cast("long").alias("event_id"),
                "tier",
                F.col("version").alias("__seed_version"),
                F.col("n_obs").alias("__weight"),
            )
        )
    # per-user high-water of the surviving REAL observations (seeds are
    # pseudo-rows); carried on every emitted row of the user
    hw_new = obs.groupBy("user_id").agg(F.max(F.struct("ts", "event_id")).alias("__hw"))
    allobs = obs
    if seeds is not None:
        allobs = obs.withColumn(
            "__seed_version", F.lit(None).cast("int")
        ).withColumn("__weight", F.lit(1).cast("long")).unionByName(seeds)
    out = (
        scd2_collapse(allobs)
        .join(hw_new, "user_id")
        .select(
            *_HISTORY_COLS,
            F.col("__hw.ts").alias("last_ts"),
            F.col("__hw.event_id").alias("last_event_id"),
        )
    )
    merge_upsert(
        spark,
        out,
        target_path,
        keys=["user_id", "version"],
        bucket_keys=["user_id"],
        num_buckets=num_buckets,
    )


# Profile observations for the point-in-time join come from a SUBSET of
# event types, so the fact rows being enriched are NOT themselves
# observations (joining the full-stream history to its own events would
# degenerately return each event's own payload).
PROFILE_EVENT_TYPES = ("signup", "click")
FACT_EVENT_TYPE = "purchase"


def scd2_point_in_time_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) enrichment against the SCD2 dimension: each
    purchase gains the tier version that was VALID at its event time —
    the query every SCD2 table exists to answer, and the feature-store
    "no training leakage" join (a purchase must see the profile as of
    then, never a later update).

    The interval lookup ``valid_from <= ts < valid_to`` needs no range
    join: intervals are contiguous per user, so the valid version is just
    the latest ``valid_from <= ts`` — an AS-OF join, executed with the
    union-then-window :func:`..streaming.temporal.asof_join` (ONE shuffle
    on user_id, no interval explosion). Purchases before a user's first
    observation keep NULL tier/version (is_current-style left semantics).
    """
    from .temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    history = scd2_collapse(
        _tier_observations(spark, sf_dir).join(
            ev.filter(F.col("event_type").isin(*PROFILE_EVENT_TYPES)).select(
                "event_id"
            ),
            "event_id",
            "left_semi",
        )
    ).select(
        "user_id", F.col("valid_from").alias("ts"), "tier", "version"
    )
    purchases = ev.filter(F.col("event_type") == FACT_EVENT_TYPE).select(
        "event_id", "user_id", "ts", "value"
    )
    return asof_join(
        purchases, history, by=["user_id"], ts="ts", prefix="tier_"
    ).drop("tier_ts")


SCD2_PIT_ORACLE = f"""
WITH obs AS (
    SELECT user_id, ts, event_id,
           CAST(regexp_extract(props, '[0-9]+', 0) AS INT) % {TIER_MOD} AS tier
    FROM events
    WHERE event_type IN {PROFILE_EVENT_TYPES!r}
),
marked AS (
    SELECT *, CASE WHEN lag(tier) OVER w IS NOT DISTINCT FROM tier
                   THEN 0 ELSE 1 END AS chg
    FROM obs
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
hist AS (
    SELECT user_id, CAST(version AS INT) AS version, MIN(tier) AS tier,
           MIN(ts) AS valid_from
    FROM (
        SELECT *, SUM(chg) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS version FROM marked
    ) GROUP BY user_id, version
),
p AS (
    SELECT event_id, user_id, ts, value FROM events
    WHERE event_type = '{FACT_EVENT_TYPE}'
)
SELECT p.event_id, p.user_id, p.ts, p.value,
       h.tier AS tier_tier, h.version AS tier_version
FROM p ASOF LEFT JOIN hist h
  ON p.user_id = h.user_id AND p.ts >= h.valid_from"""


def incremental_scd2_stream(
    spark: SparkSession,
    source_dir: str,
    target_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    transform=None,
):
    """Structured-Streaming front door for SCD2 maintenance — the
    streaming MERGE pattern: observation files land, and each micro-batch
    flows through :func:`scd2_apply_batch` exactly-once via the
    checkpoint, keeping the dimension history continuously current at
    O(batch) cost per trigger (never a history rescan).

    Within a micro-batch arrival order is irrelevant (the seeded
    run-collapse sorts by event time); ACROSS micro-batches the
    per-user event-time-order contract of :func:`scd2_apply_batch`
    applies — upstream watermarking provides it in production, ordered
    file feeds in tests. ``transform`` optionally maps each raw batch to
    observation shape (e.g. raw event rows -> tier observations) before
    the apply."""
    static = spark.read.parquet(source_dir)
    reader = spark.readStream.schema(static.schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def _apply(batch_df: DataFrame, _batch_no: int) -> None:
        if batch_df.isEmpty():
            return
        if transform is not None:
            batch_df = transform(batch_df)
        scd2_apply_batch(batch_df.sparkSession, batch_df, target_path)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def stream_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: drain the streaming SCD2 maintainer over the
    events file (availableNow) and serve the merged dimension history —
    the SAME DuckDB oracle as the batch ``scd2_user_tier_history``
    (second physical shape, identical semantics), so the streaming
    MERGE-maintenance path is driver-checkable, not pytest-only."""
    # the drain is a one-time build; repeated registry calls serve the
    # merged table
    target = drain_once(
        spark,
        ("incremental_scd2_stream", sf_dir),
        "scd2_stream_",
        lambda src, target, ckpt: incremental_scd2_stream(
            spark, src, target, ckpt, transform=_obs_of
        ),
        copy_events(sf_dir),
    )
    return read_merge_target(spark, target).select(*_HISTORY_COLS)


def register_scd(register) -> None:
    register("scd2_user_tier_history", scd2_user_tier_history, SCD2_HISTORY_ORACLE)
    register(
        "scd2_point_in_time_purchases",
        scd2_point_in_time_purchases,
        SCD2_PIT_ORACLE,
    )
    register("stream_scd2_history", stream_scd2_history, SCD2_HISTORY_ORACLE)
