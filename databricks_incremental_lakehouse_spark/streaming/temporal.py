"""Temporal join operators over the ``events`` table — the event-time
relations Spark has no native operator for, each built from shuffle-minimal
primitives and oracle-checked against DuckDB's native temporal SQL:

- ``events_asof_join``       : per purchase, the most recent prior (or
  simultaneous) click by the same user — the classic AS-OF join. Spark
  lacks ASOF; the implementation is the scalable union-then-window form:
  tag both sides, sort once within user_id, ``last(struct, ignorenulls)``
  carries the latest right-side row forward. ONE shuffle (on user_id),
  no range explosion, no per-row probe — the shape that holds when both
  sides are 100 TB. The DuckDB oracle uses its native ``ASOF LEFT JOIN``,
  making the parity check a genuine cross-implementation test of the
  semantics.
- ``events_rolling_5min``    : per event, count / sum(value) of the same
  user's events in the strictly-preceding 5 minutes — a RANGE-frame
  window over integer event-time (``unix_micros``), the bounded-state
  sliding aggregate (streaming twin: watermark + state store).
- ``events_in_error_windows``: interval containment turned into an
  equi-join — flag hours whose error count exceeds the per-hour average,
  then join other traffic to those hours on the truncated-hour key. The
  generic range-join-by-bucketing pattern: align intervals to a bucket
  grid and the O(n*m) interval probe becomes a hash join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from ..pinning import pin

from ..operators import round_dbl
from ..operators.skew import SKEW_SHARE_THRESHOLD, salted_join, top_key_share
from ..tables import load_table
from .tuning import drain_once

_EVENTS_ORACLE_VIEW = (
    "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props "
    "FROM events"
)

ASOF_LEFT_TYPE = "purchase"
ASOF_RIGHT_TYPE = "click"
ROLLING_WINDOW_US = 5 * 60 * 1_000_000  # 5 minutes in microseconds


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
    ts: str = "ts",
    prefix: str = "right_",
) -> DataFrame:
    """Generic AS-OF LEFT join (Spark has no native one; cf. pandas
    ``merge_asof`` / DuckDB ``ASOF JOIN``): every ``left`` row gains the
    columns of the latest ``right`` row sharing its ``by`` keys with
    ``right.ts <= left.ts`` (NULLs when no such row), renamed
    ``{prefix}{col}``.

    Union-then-window: right rows (side 0) sort before left rows (side 1)
    at equal ts, giving the inclusive <= semantics; the right-side payload
    travels as ONE struct through ``last(ignorenulls)`` so all matched
    columns come from the same right row by construction. ONE shuffle (on
    the ``by`` keys), no range explosion, no per-row probe — the shape
    that holds when both sides are 100 TB. Ties on (by, ts) within
    ``right`` resolve to the row last in the union sort — pre-dedup the
    right side if tie choice matters. NULL-ts right rows are dropped up
    front: an unknown timestamp can never satisfy ``right.ts <= left.ts``
    (the pandas/DuckDB ASOF semantics the oracles encode) — unfiltered
    they would sort first and leak into every left row as a bogus
    fallback match.
    """
    right = right.filter(F.col(ts).isNotNull())
    pay_cols = [c for c in right.columns if c not in by]
    for reserved in ("__p", "__side"):
        assert reserved not in left.columns, f"left must not contain {reserved}"
    r = right.select(
        *by,
        F.col(ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.struct(*[F.col(c).alias(c) for c in pay_cols]).alias("__p"),
    )
    lhs = left.select(
        "*", F.col(ts).alias("__ts"), F.lit(1).alias("__side")
    )
    w = (
        Window.partitionBy(*by)
        .orderBy(F.col("__ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        lhs.unionByName(r, allowMissingColumns=True)
        .withColumn("__m", F.last("__p", ignorenulls=True).over(w))
        .filter(F.col("__side") == 1)
        .select(
            *left.columns,
            *[F.col(f"__m.{c}").alias(f"{prefix}{c}") for c in pay_cols],
        )
    )


def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join over events: each purchase matched to the same user's
    latest click with ``click.ts <= purchase.ts`` (NULL columns when no
    prior click) — an instantiation of the generic :func:`asof_join`.
    (user_id, ts) is unique on this corpus, so tie choice is moot."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == ASOF_LEFT_TYPE).select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == ASOF_RIGHT_TYPE).select(
        "user_id", "event_id", "ts", "value"
    )
    return asof_join(purchases, clicks, by=["user_id"], ts="ts", prefix="click_")


EVENTS_ASOF_ORACLE = f"""
WITH e AS ({_EVENTS_ORACLE_VIEW}),
p AS (SELECT event_id, user_id, ts, value FROM e
      WHERE event_type = '{ASOF_LEFT_TYPE}'),
c AS (SELECT event_id, user_id, ts, value FROM e
      WHERE event_type = '{ASOF_RIGHT_TYPE}')
SELECT p.event_id, p.user_id, p.ts, p.value,
       c.event_id AS click_event_id, c.ts AS click_ts, c.value AS click_value
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts"""


def events_rolling_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event: how many events (and how much value) the same user
    produced in the strictly-preceding 5 minutes.

    RANGE frame over integer microsecond event-time — exclusive of the
    current row ([-5min, -1us]) so an event never counts itself, and all
    frame arithmetic is integer. State is bounded by the window span per
    user (the batch twin of a watermarked sliding aggregate); one shuffle
    on user_id.
    """
    ev = load_table(spark, sf_dir, "events")
    # cast covers TIMESTAMP_NTZ sources (unix_micros only accepts LTZ; the
    # session timezone is pinned UTC so the cast is wall-clock-preserving)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-ROLLING_WINDOW_US, -1)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.count(F.lit(1)).over(w).alias("n_prev_5min"),
        round_dbl(F.sum("value").over(w), 2).alias("value_prev_5min"),
    )


EVENTS_ROLLING_ORACLE = f"""
WITH e AS ({_EVENTS_ORACLE_VIEW})
SELECT event_id, user_id, ts, event_type,
       COUNT(*) OVER w AS n_prev_5min,
       CAST(ROUND(CAST(SUM(value) OVER w AS DECIMAL(38,6)), 2) AS DOUBLE)
           AS value_prev_5min
FROM e
WINDOW w AS (
    PARTITION BY user_id ORDER BY epoch_us(ts)
    RANGE BETWEEN {ROLLING_WINDOW_US} PRECEDING AND 1 PRECEDING
)"""


def events_in_error_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic during incident hours: hours whose error count exceeds the
    per-hour average are flagged, and all non-error traffic in those hours
    is aggregated per type.

    The interval join (event ts ∈ flagged hour) is expressed as an
    equi-join on the truncated-hour key; the flagged-hour list is tiny
    (it is an aggregate of the fact table) and broadcasts. The threshold
    is relative (count > avg) so the operator binds at every scale factor
    instead of hard-coding a rate.
    """
    ev = load_table(spark, sf_dir, "events")
    hours = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"))
        .agg(F.count(F.lit(1)).alias("n_errors"))
    )
    avg_errors = hours.agg(F.avg("n_errors").alias("avg_errors"))
    flagged = hours.crossJoin(F.broadcast(avg_errors)).filter(
        F.col("n_errors") > F.col("avg_errors")
    )
    return (
        ev.filter(F.col("event_type") != "error")
        .withColumn("window_start", F.date_trunc("hour", "ts"))
        .join(F.broadcast(flagged), "window_start")
        .groupBy("window_start", "event_type")
        .agg(
            F.min("n_errors").alias("n_errors"),
            F.count(F.lit(1)).alias("event_count"),
            round_dbl(F.sum("value"), 2).alias("total_value"),
        )
    )


EVENTS_ERROR_WINDOWS_ORACLE = f"""
WITH e AS ({_EVENTS_ORACLE_VIEW}),
hours AS (
    SELECT date_trunc('hour', ts) AS window_start, COUNT(*) AS n_errors
    FROM e WHERE event_type = 'error' GROUP BY 1
),
flagged AS (
    SELECT window_start, n_errors FROM hours
    WHERE n_errors > (SELECT AVG(n_errors) FROM hours)
)
SELECT f.window_start, e.event_type, MIN(f.n_errors) AS n_errors,
       COUNT(*) AS event_count,
       CAST(ROUND(CAST(SUM(e.value) AS DECIMAL(38,6)), 2) AS DOUBLE)
           AS total_value
FROM e
JOIN flagged f ON date_trunc('hour', e.ts) = f.window_start
WHERE e.event_type <> 'error'
GROUP BY 1, 2"""


FUNNEL_STEPS = ("view", "click", "purchase")
FUNNEL_WINDOW_HOURS = 24  # max delay for each step after the previous one


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel per user: the earliest ``view``, the
    earliest ``click`` within ``FUNNEL_WINDOW_HOURS`` STRICTLY AFTER that
    view, the earliest ``purchase`` within the window after that click —
    the standard product-analytics funnel (each step must follow the
    previous step's first completion inside the conversion window; a
    click before any view, or one arriving after the window, does not
    convert).

    Three cascaded whole-partition conditional-min windows over ONE
    user_id exchange (each step's predicate references the previous
    step's window result; Spark reuses the partitioning, so the plan is
    shuffle-once + three window stages). The per-user reduction then
    collapses to one row — no self-joins, no per-step scans of the fact.
    ``reached_step`` counts completed steps (0 = user never viewed)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    horizon = F.expr(f"INTERVAL {FUNNEL_WINDOW_HOURS} HOURS")
    w = Window.partitionBy("user_id")
    s1 = F.min(
        F.when(F.col("event_type") == FUNNEL_STEPS[0], F.col("ts"))
    ).over(w)
    e1 = ev.withColumn("t_view", s1)
    s2 = F.min(
        F.when(
            (F.col("event_type") == FUNNEL_STEPS[1])
            & (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + horizon),
            F.col("ts"),
        )
    ).over(w)
    e2 = e1.withColumn("t_click", s2)
    s3 = F.min(
        F.when(
            (F.col("event_type") == FUNNEL_STEPS[2])
            & (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + horizon),
            F.col("ts"),
        )
    ).over(w)
    e3 = e2.withColumn("t_purchase", s3)
    reached = (
        F.when(F.col("t_purchase").isNotNull(), 3)
        .when(F.col("t_click").isNotNull(), 2)
        .when(F.col("t_view").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        e3.groupBy("user_id")
        .agg(
            F.max("t_view").alias("t_view"),
            F.max("t_click").alias("t_click"),
            F.max("t_purchase").alias("t_purchase"),
        )
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            reached.cast("int").alias("reached_step"),
        )
    )


def events_funnel_aggjoin(
    spark: SparkSession, sf_dir: str, salted: bool = False, n_salts: int = 16
) -> DataFrame:
    """The funnel's SKEW-SAFE twin: identical semantics (same oracle),
    different physical shape. :func:`events_funnel` computes each step as
    a whole-partition conditional-min WINDOW over user_id — one hot user
    owning a constant fraction of the fact serializes that entire
    partition into a single task at any scale. This form replaces the
    windows with the agg + join-back cascade:

    - each step min is a ``groupBy(user_id)`` aggregate — partial (map-
      side) aggregation collapses the hot key inside every input
      partition BEFORE the shuffle, so the hot reducer receives one
      pre-merged row per upstream partition, not 40% of the fact;
    - the next step's events join back to the previous step's per-user
      scalar — with ``salted=True`` the probe side's hot key is spread
      over ``(user_id, salt)`` buckets via :func:`~..operators.skew.
      salted_join` (the per-user scalar frame replicates ``n_salts`` x,
      acceptable: it is one row per converted user).

    ``events_funnel_adaptive`` dispatches between the two forms off the
    measured key histogram; on the skewed 10x corpus (.bench/sfskew, one
    user = 40% of 1M events) this form is benched against the window form
    by bench.py's ``ext.skew.*`` rows."""
    join_back = (
        (lambda big, small: salted_join(big, small, ["user_id"], n_salts, "inner"))
        if salted
        else (lambda big, small: big.join(small, "user_id"))
    )
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    horizon = F.expr(f"INTERVAL {FUNNEL_WINDOW_HOURS} HOURS")
    u = ev.select("user_id").distinct()
    s1 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    s2 = (
        join_back(ev.filter(F.col("event_type") == FUNNEL_STEPS[1]), s1)
        .filter((F.col("ts") > F.col("t_view")) & (F.col("ts") <= F.col("t_view") + horizon))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    s3 = (
        join_back(ev.filter(F.col("event_type") == FUNNEL_STEPS[2]), s2)
        .filter((F.col("ts") > F.col("t_click")) & (F.col("ts") <= F.col("t_click") + horizon))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    reached = (
        F.when(F.col("t_purchase").isNotNull(), 3)
        .when(F.col("t_click").isNotNull(), 2)
        .when(F.col("t_view").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        u.join(s1, "user_id", "left")
        .join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            reached.cast("int").alias("reached_step"),
        )
    )


def events_funnel_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-dispatched funnel: probe the hottest user_id's share of
    the fact (one sampled 1-row collect, :func:`~..operators.skew.
    top_key_share`); a key above ``SKEW_SHARE_THRESHOLD`` routes to the
    salted agg + join-back plan, anything else to the window plan (one
    exchange, three window stages — cheaper when no partition is hot).
    The driver corpora are near-uniform (share ~1e-3 -> window path);
    .bench/sfskew trips the threshold (share 0.40 -> salted path) — both
    dispatch decisions and the two plans' equality are locked in
    tests/test_operators.py.

    Measured contrast at sfskew (bench ``ext.skew.*``): window 0.85s,
    salted agg 0.59s, UNSALTED agg 0.37s — partial aggregation alone
    absorbs the agg-side skew and AQE's skew-join split absorbs the
    join-back's, so with AQE on, the unsalted agg form wins and salting's
    n_salts x small-side replication is pure overhead. The dispatcher
    still salts because it is the plan that degrades gracefully when AQE
    cannot help (disabled, or a build side too large to split-replicate);
    the window form remains the right plan for uniform keys (fewer
    exchanges). All three are recorded side by side in bench."""
    ev = load_table(spark, sf_dir, "events")
    if top_key_share(ev, "user_id") >= SKEW_SHARE_THRESHOLD:
        return events_funnel_aggjoin(spark, sf_dir, salted=True)
    return events_funnel(spark, sf_dir)


EVENTS_FUNNEL_ORACLE = f"""
WITH ev AS ({_EVENTS_ORACLE_VIEW}),
u AS (SELECT DISTINCT user_id FROM ev),
s1 AS (
    SELECT user_id, MIN(ts) AS t_view FROM ev
    WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id
),
s2 AS (
    SELECT e.user_id, MIN(e.ts) AS t_click
    FROM ev e JOIN s1 ON e.user_id = s1.user_id
    WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND e.ts > s1.t_view
      AND e.ts <= s1.t_view + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
    GROUP BY e.user_id
),
s3 AS (
    SELECT e.user_id, MIN(e.ts) AS t_purchase
    FROM ev e JOIN s2 ON e.user_id = s2.user_id
    WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND e.ts > s2.t_click
      AND e.ts <= s2.t_click + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
    GROUP BY e.user_id
)
SELECT u.user_id, s1.t_view, s2.t_click, s3.t_purchase,
    CAST(CASE WHEN s3.t_purchase IS NOT NULL THEN 3
              WHEN s2.t_click IS NOT NULL THEN 2
              WHEN s1.t_view IS NOT NULL THEN 1
              ELSE 0 END AS INT) AS reached_step
FROM u
LEFT JOIN s1 ON u.user_id = s1.user_id
LEFT JOIN s2 ON u.user_id = s2.user_id
LEFT JOIN s3 ON u.user_id = s3.user_id"""


def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-grain cohort retention triangle: users cohorted by first-seen
    day; for each (cohort, day offset), how many came back and the rate
    against the cohort's size — the other standard product-analytics
    temporal rollup next to the funnel.

    Shape: ONE pass collapses the fact to (user, day) grain (map-side
    combined); the cohort day is a min-window over the same user_id
    partitioning (no second scan of the fact, no join back); the
    O(cohorts x offsets) triangle aggregate follows. Cohort size needs no
    separate computation — every user is active on their own cohort day,
    so it IS the triangle's offset-0 cell, joined back broadcast (and the
    two branches share the aggregate's exchange, which AQE reuses rather
    than recomputing). Total: three exchanges over ever-shrinking grains,
    zero fact self-joins."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    user_days = ev.distinct()
    w = Window.partitionBy("user_id")
    active = user_days.withColumn("cohort_day", F.min("day").over(w)).select(
        "cohort_day",
        F.datediff("day", "cohort_day").alias("day_offset"),
        "user_id",
    )
    ret = active.groupBy("cohort_day", "day_offset").agg(
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


EVENTS_RETENTION_ORACLE = f"""
WITH ev AS ({_EVENTS_ORACLE_VIEW}),
user_days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM ev
),
first AS (
    SELECT user_id, MIN(day) AS cohort_day FROM user_days GROUP BY user_id
),
active AS (
    SELECT f.cohort_day, date_diff('day', f.cohort_day, u.day) AS day_offset,
        u.user_id
    FROM user_days u JOIN first f ON u.user_id = f.user_id
),
ret AS (
    SELECT cohort_day, CAST(day_offset AS INT) AS day_offset,
        COUNT(DISTINCT user_id) AS n_active
    FROM active GROUP BY 1, 2
),
sz AS (
    SELECT cohort_day, COUNT(DISTINCT user_id) AS cohort_size
    FROM first GROUP BY cohort_day
)
SELECT r.cohort_day, r.day_offset, r.n_active, s.cohort_size,
    CAST(ROUND(CAST(CAST(r.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
         AS DECIMAL(38,10)), 6) AS DOUBLE) AS retention_rate
FROM ret r JOIN sz s ON r.cohort_day = s.cohort_day"""


N_CAMPAIGNS = 5  # click payload k % N -> campaign id


def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase credits the same
    user's LATEST click at-or-before purchase time (the industry-default
    attribution model); the click's campaign derives from its payload.
    Purchases with no prior click roll up under the NULL campaign — the
    organic bucket, reported, never dropped.

    Two scale-safe stages: the generic :func:`asof_join` (union-then-
    window, ONE shuffle on user_id, no range explosion) resolves the
    crediting, then a campaign-bounded rollup (map-side partial) counts
    purchases and sums revenue. Revenue crosses the oracle boundary on
    the 2-dp decimal grid."""
    ev = load_table(spark, sf_dir, "events")
    # no event_id: the rollup never reads it, and it would ride the
    # union-then-window shuffle (the query's one heavy stage) for nothing
    purchases = ev.filter(F.col("event_type") == ASOF_LEFT_TYPE).select(
        "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == ASOF_RIGHT_TYPE).select(
        "user_id",
        "ts",
        (
            F.regexp_extract("props", r"[0-9]+", 0).cast("int") % N_CAMPAIGNS
        ).alias("campaign"),
    )
    att = asof_join(purchases, clicks, by=["user_id"], ts="ts", prefix="c_")
    return att.groupBy(F.col("c_campaign").alias("campaign")).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        round_dbl(F.sum("value"), 2).alias("attributed_revenue"),
    )


EVENTS_ATTRIBUTION_ORACLE = f"""
WITH e AS ({_EVENTS_ORACLE_VIEW}),
p AS (SELECT user_id, ts, value FROM e WHERE event_type = '{ASOF_LEFT_TYPE}'),
c AS (SELECT user_id, ts,
             CAST(regexp_extract(props, '[0-9]+', 0) AS INT) % {N_CAMPAIGNS}
                 AS campaign
      FROM e WHERE event_type = '{ASOF_RIGHT_TYPE}')
SELECT campaign, COUNT(*) AS n_purchases,
       CAST(ROUND(CAST(SUM(value) AS DECIMAL(38,10)), 2) AS DOUBLE)
           AS attributed_revenue
FROM (
    SELECT c.campaign, p.value
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
) GROUP BY campaign"""


# --- streaming last-touch attribution (batch twin above) -------------------

ATTR_FEED_FILES = 3  # the registry face splits the feed into this many
# time-ordered micro-batch files so state must genuinely carry across
# batches (a single-file drain would degenerate to the batch plan; the
# middle batch both consumes prior state and feeds later state, so 3 is
# the smallest count that exercises every cross-batch role — each extra
# batch costs ~2 merge rounds on the one-time drain)


def incremental_attribution_stream(
    spark: SparkSession,
    source_dir: str,
    credits_path: str,
    clicks_path: str,
    checkpoint_dir: str,
):
    """Streaming last-touch attribution maintainer over a TIME-ORDERED
    event feed (event time monotone across micro-batches — the natural
    arrival order of a log-shipped feed; bounded disorder would add a
    watermarked reorder stage in front).

    State is the classic COMPACT form that makes streaming attribution
    scale: one stored row per user — the user's latest click (ts +
    campaign), maintained by ``merge_upsert`` last-writer-wins. That row
    is sufficient because with a monotone feed every stored click is
    ≤ the current batch's purchases in time, so only the latest stored
    click per user can win last-touch; in-batch clicks are resolved by
    the same union-then-window :func:`asof_join` the batch operator uses.
    Credited purchases MERGE into ``credits_path`` keyed on ``event_id``,
    so re-delivered batches are idempotent. Both stores are
    bucket-partitioned merge targets — at 100 TB the per-batch work is
    bounded by the touched buckets, never the history."""
    import os

    from .incremental import merge_upsert, read_merge_target

    static = spark.read.parquet(source_dir)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )

    def _batch(batch_df: DataFrame, _batch_no: int) -> None:
        if batch_df.isEmpty():
            return
        sp = batch_df.sparkSession
        clicks = batch_df.filter(
            F.col("event_type") == ASOF_RIGHT_TYPE
        ).select(
            "user_id",
            "ts",
            (
                F.regexp_extract("props", r"[0-9]+", 0).cast("int")
                % N_CAMPAIGNS
            ).alias("campaign"),
        )
        purchases = batch_df.filter(
            F.col("event_type") == ASOF_LEFT_TYPE
        ).select("event_id", "user_id", "ts", "value")
        if os.path.isdir(clicks_path):
            cand = read_merge_target(sp, clicks_path).select(
                "user_id", "ts", "campaign"
            ).unionByName(clicks)
        else:
            cand = clicks
        att = asof_join(purchases, cand, by=["user_id"], ts="ts", prefix="c_")
        # pin the credited batch BEFORE the merges: its lineage reads the
        # clicks store, which the concurrent clicks merge is about to swap
        credits = att.select(
            "event_id",
            "user_id",
            "ts",
            "value",
            F.col("c_campaign").alias("campaign"),
        ).transform(pin)
        # latest click per user: explicit keep-LATEST-by-ts in-batch dedup
        # (recency_col, NOT tiebreak_cols — those sort ASC = keep-earliest);
        # monotone feed => batch rows supersede stored ones. The two merges
        # touch DISJOINT targets (credits keyed on event_id, the click
        # store keyed on user_id), so they run concurrently — half the
        # per-batch merge latency on the drain's critical path.
        from concurrent.futures import ThreadPoolExecutor

        from ..operators.dedup import dedup_latest

        with ThreadPoolExecutor(max_workers=2) as ex:
            f1 = ex.submit(
                merge_upsert, sp, credits, credits_path, keys=["event_id"]
            )
            f2 = ex.submit(
                merge_upsert,
                sp,
                dedup_latest(clicks, keys=["user_id"], recency_col="ts"),
                clicks_path,
                keys=["user_id"],
            )
            f1.result()
            f2.result()

    return (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def stream_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry face: split the events table into ``ATTR_FEED_FILES``
    time-ordered files (feed scaffolding — a production feed arrives
    time-partitioned), drain the streaming maintainer, and serve the
    campaign rollup from the credits store. SAME DuckDB oracle as the
    batch ``events_attribution_last_touch`` (second physical shape,
    identical semantics), so the cross-batch stateful path is
    driver-checked, not pytest-only. The drain runs once per session
    (:func:`.tuning.drain_once`); repeated calls read the merge target."""
    import os
    import shutil
    import time as _time

    from .incremental import read_merge_target

    def prepare(root: str) -> str:
        src = os.path.join(root, "src")
        os.makedirs(src)
        ev = load_table(spark, sf_dir, "events").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        cuts = ev.select(
            F.percentile_approx(
                F.unix_micros("ts"),
                [i / ATTR_FEED_FILES for i in range(1, ATTR_FEED_FILES)],
                10_000,
            ).alias("qs")
        ).first()["qs"]
        # ONE pass over events: tag each row's quartile slice, cluster by
        # it, write all slice files in a single partitioned job (the
        # previous per-slice loop re-scanned and re-wrote the full table
        # ATTR_FEED_FILES times — the latency audit caught it at 18s cold)
        slice_col = F.lit(0)
        for i, cut in enumerate(cuts):
            slice_col = F.when(
                F.unix_micros("ts") > F.lit(int(cut)), F.lit(i + 1)
            ).otherwise(slice_col)
        tmp = os.path.join(root, "slices")
        ev.withColumn("_slice", slice_col).repartition("_slice").write.partitionBy(
            "_slice"
        ).parquet(tmp)
        base = _time.time()
        for i in range(ATTR_FEED_FILES):
            sdir = os.path.join(tmp, f"_slice={i}")
            if not os.path.isdir(sdir):  # degenerate cuts -> empty slice
                continue
            parts = [f for f in os.listdir(sdir) if f.endswith(".parquet")]
            assert len(parts) == 1, parts  # one file per slice by clustering
            dst = os.path.join(src, f"{i:02d}.parquet")
            shutil.move(os.path.join(sdir, parts[0]), dst)
            # pin ascending mtimes: the file source processes oldest-first,
            # and batch order IS the monotone-feed contract
            os.utime(dst, (base + i, base + i))
        shutil.rmtree(tmp)
        return src

    def start(src: str, target: str, ckpt: str):
        clicks = os.path.join(os.path.dirname(target), "clicks")
        return incremental_attribution_stream(spark, src, target, clicks, ckpt)

    target = drain_once(
        spark,
        ("incremental_attribution_stream", sf_dir),
        "attr_stream_",
        start,
        prepare,
    )
    return (
        read_merge_target(spark, target)
        .groupBy("campaign")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            round_dbl(F.sum("value"), 2).alias("attributed_revenue"),
        )
    )


PATH_TOP_K = 10


def events_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-flow analysis: the corpus-wide top-``PATH_TOP_K``
     3-step event-type sequences (each user's event stream ordered by
    time, consecutive type trigrams counted) — the "common user journeys"
    query product analytics runs beside the funnel, generalizing it from
    one declared path to the observed path distribution.

    Shape = the text-shingle machinery transplanted onto event streams:
    per-user LEAD window (one shuffle on user_id) forms the trigrams, the
    aggregate is bounded by |event_type|^3, and the final top-k is a
    TakeOrderedAndProject. Deterministic tiebreak on the path string."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (
        ev.withColumn("t1", F.lead("event_type", 1).over(w))
        .withColumn("t2", F.lead("event_type", 2).over(w))
        .filter(F.col("t2").isNotNull())
        .select(
            F.concat_ws(" > ", "event_type", "t1", "t2").alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users_steps"))
        .orderBy(F.col("n_users_steps").desc(), F.col("path").asc())
        .limit(PATH_TOP_K)
        .withColumn(
            "path_rank",
            F.row_number().over(
                Window.orderBy(
                    F.col("n_users_steps").desc(), F.col("path").asc()
                )
            ),
        )
    )


EVENTS_PATH_ORACLE = f"""
WITH e AS ({_EVENTS_ORACLE_VIEW}),
tri AS (
    SELECT concat_ws(' > ', event_type,
               lead(event_type, 1) OVER w, lead(event_type, 2) OVER w) AS path,
           lead(event_type, 2) OVER w AS t2
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT path, n_users_steps,
       CAST(ROW_NUMBER() OVER (
           ORDER BY n_users_steps DESC, path ASC
       ) AS INT) AS path_rank
FROM (
    SELECT path, COUNT(*) AS n_users_steps FROM tri
    WHERE t2 IS NOT NULL GROUP BY path
)
ORDER BY n_users_steps DESC, path ASC
LIMIT {PATH_TOP_K}"""


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral Markov model: the event-type transition
    matrix ``P(next | current)`` over each user's time-ordered stream —
    the probability-normalized companion to :func:`events_path_topk`
    (top-k raw trigrams), the standard input to journey simulation and
    anomalous-session scoring.

    One user-shuffle LEAD window forms the (from, to) pairs; the
    aggregate and the row-normalizing window are both bounded by
    ``|event_type|^2``, so everything after the single corpus shuffle is
    value-domain work. Probabilities are exact rationals of bigint counts
    grid-rounded to 6 dp."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("to_type", F.lead("event_type", 1).over(w))
        .filter(F.col("to_type").isNotNull())
        .select(F.col("event_type").alias("from_type"), "to_type")
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    wrow = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.sum("n_transitions").over(wrow).alias("n_from_total"),
        round_dbl(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(wrow).cast("double"),
            6,
        ).alias("transition_prob"),
    )


EVENTS_MARKOV_ORACLE = f"""
WITH e AS ({_EVENTS_ORACLE_VIEW}),
pairs AS (
    SELECT event_type AS from_type,
           lead(event_type, 1) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS to_type
    FROM e
),
counts AS (
    SELECT from_type, to_type, COUNT(*) AS n_transitions
    FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n_transitions,
    CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS BIGINT)
        AS n_from_total,
    CAST(ROUND(CAST(CAST(n_transitions AS DOUBLE)
         / CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE)
      AS DECIMAL(38,10)), 6) AS DOUBLE) AS transition_prob
FROM counts"""


def register_all(register) -> None:
    register("events_asof_join", events_asof_join, EVENTS_ASOF_ORACLE)
    register("events_path_topk", events_path_topk, EVENTS_PATH_ORACLE)
    register(
        "events_markov_transitions",
        events_markov_transitions,
        EVENTS_MARKOV_ORACLE,
    )
    register(
        "events_attribution_last_touch",
        events_attribution_last_touch,
        EVENTS_ATTRIBUTION_ORACLE,
    )
    register(
        "stream_attribution_last_touch",
        stream_attribution_last_touch,
        EVENTS_ATTRIBUTION_ORACLE,
    )
    register("events_rolling_5min", events_rolling_5min, EVENTS_ROLLING_ORACLE)
    register(
        "events_in_error_windows", events_in_error_windows, EVENTS_ERROR_WINDOWS_ORACLE
    )
    register("events_funnel", events_funnel, EVENTS_FUNNEL_ORACLE)
    register("events_funnel_aggjoin", events_funnel_aggjoin, EVENTS_FUNNEL_ORACLE)
    register("events_retention", events_retention, EVENTS_RETENTION_ORACLE)
