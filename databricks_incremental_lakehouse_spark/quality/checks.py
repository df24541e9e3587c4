"""Data-quality suite (reference ``src/tests/data_quality_checks.py``).

The reference's 5 check families, re-expressed as DataFrame programs that
return the same labeled PASS/FAIL report shape (check_type / name / value /
status). Unlike the reference — which only displays results and never raises
(data_quality_checks.py:144) — :func:`run_all_checks` can assert.

Families (README.md:185-196):

1. Row counts        — every layer table non-empty (:27-44)
2. Null validation   — key/critical columns have zero NULLs (:53-64)
3. Referential integrity — zero orphans via anti-join (:73-93); the
   reference spells it LEFT JOIN ... IS NULL; ``left_anti`` is the idiomatic
   Spark form of the identical plan
4. Business rules    — value-domain assertions (:102-114)
5. Freshness         — max ingest/refine timestamp within the 25-hour SLO
   (:123-140); real over materialized warehouse tables (the runner stamps
   ``_ingested_at``/``_refined_at`` at write time), trivially fresh on the
   deterministic driver-contract path (stamped on the fly)

Each family is also registered as an oracle-checked query so the driver
verifies the QC logic itself.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..bronze import BRONZE_BUILDERS
from ..bronze.extracts import BRONZE_ORACLE_CTES
from ..operators import round_dbl
from ..oracle_util import with_clause
from ..silver.customer_orders import silver_customer_orders, silver_customer_orders_oracle_ctes
from ..silver.order_details import silver_order_details, silver_order_details_oracle_ctes
from ..silver.supplier_parts import silver_supplier_parts, silver_supplier_parts_oracle_ctes


def qc_sources(
    spark: SparkSession, sf_dir: str, sources: dict[str, DataFrame] | None = None
) -> dict[str, DataFrame]:
    """Tables under check, keyed ``bronze.*`` / ``silver.*``.

    Default: recompute each layer's lazy plan from raw source (the
    self-contained driver-contract path). The pipeline runner overrides with
    the *materialized* warehouse tables instead — the reference QC notebook
    reads catalog tables the pipeline wrote (data_quality_checks.py:27-44),
    and at scale re-deriving silver from raw inside QC would re-run the
    whole pipeline per check family."""
    src: dict[str, DataFrame] = dict(sources) if sources else {}
    defaults = {
        **{
            f"bronze.{name}": (lambda b=b: b(spark, sf_dir))
            for name, b in BRONZE_BUILDERS.items()
        },
        "silver.order_details": lambda: silver_order_details(spark, sf_dir),
        "silver.customer_orders": lambda: silver_customer_orders(spark, sf_dir),
        "silver.supplier_parts": lambda: silver_supplier_parts(spark, sf_dir),
    }
    # thunked: building a silver plan costs real Catalyst analysis time, so
    # only keys the caller didn't supply are constructed. An explicit None
    # entry exempts the table from all checks (pipeline QC over a table
    # another DAG has not materialized yet); the None is preserved so
    # re-resolving an already-resolved dict stays idempotent.
    for key, thunk in defaults.items():
        if key not in src:
            src[key] = thunk()
    return src


def _status(df: DataFrame, pass_cond) -> DataFrame:
    return df.withColumn(
        "status", F.when(pass_cond, F.lit("PASS")).otherwise(F.lit("FAIL"))
    )


# --- family 1: row counts -------------------------------------------------

def qc_row_counts(
    spark: SparkSession, sf_dir: str, sources: dict[str, DataFrame] | None = None
) -> DataFrame:
    """Row Count checks — distributed union of per-table count aggregates."""
    src = qc_sources(spark, sf_dir, sources)
    counted = [
        df.agg(F.count(F.lit(1)).alias("value")).select(
            F.lit("Row Count").alias("check_type"),
            F.lit(name).alias("check_name"),
            F.col("value"),
        )
        for name, df in src.items()
        if df is not None
    ]
    out = reduce(DataFrame.unionAll, counted)
    return _status(out, F.col("value") > 0)


def qc_row_counts_oracle_sql() -> str:
    ctes = silver_order_details_oracle_ctes()
    ctes.update(silver_customer_orders_oracle_ctes())
    ctes.update(silver_supplier_parts_oracle_ctes())
    # b_partsupp etc. already present via silver deps; add the rest
    for name, cte in BRONZE_ORACLE_CTES().items():
        ctes.setdefault(name, cte)
    units = [
        f"SELECT 'Row Count' AS check_type, 'bronze.{t}' AS check_name, count(*) AS value FROM b_{t}"
        for t in ("orders", "customers", "lineitem", "suppliers", "parts", "partsupp", "nation", "region")
    ] + [
        "SELECT 'Row Count', 'silver.order_details', count(*) FROM s_order_details",
        "SELECT 'Row Count', 'silver.customer_orders', count(*) FROM s_customer_orders",
        "SELECT 'Row Count', 'silver.supplier_parts', count(*) FROM s_supplier_parts",
    ]
    body = "\nUNION ALL ".join(units)
    return with_clause(
        ctes,
        f"""SELECT check_type, check_name, CAST(value AS BIGINT) AS value,
                   CASE WHEN value > 0 THEN 'PASS' ELSE 'FAIL' END AS status
            FROM ({body})""",
    )


# --- family 2: null validation -------------------------------------------

_NULL_CHECKS = [
    ("orders.o_orderkey", "bronze.orders", "o_orderkey"),
    ("customers.c_custkey", "bronze.customers", "c_custkey"),
    ("lineitem.l_orderkey", "bronze.lineitem", "l_orderkey"),
    ("order_details.net_revenue", "silver.order_details", "net_revenue"),
    ("customer_orders.customer_key", "silver.customer_orders", "customer_key"),
]


def qc_null_checks(
    spark: SparkSession, sf_dir: str, sources: dict[str, DataFrame] | None = None
) -> DataFrame:
    """Null Check family — zero NULLs in key/critical columns."""
    src = qc_sources(spark, sf_dir, sources)
    units = [
        src[table]
        .agg(F.count(F.when(F.col(col).isNull(), 1)).alias("value"))
        .select(
            F.lit("Null Check").alias("check_type"),
            F.lit(label).alias("check_name"),
            F.col("value"),
        )
        for label, table, col in _NULL_CHECKS
        if src[table] is not None
    ]
    return _status(reduce(DataFrame.unionAll, units), F.col("value") == 0)


def qc_null_checks_oracle_sql() -> str:
    ctes = silver_order_details_oracle_ctes()
    ctes.update(silver_customer_orders_oracle_ctes())
    src_map = {
        "bronze.orders": "b_orders",
        "bronze.customers": "b_customers",
        "bronze.lineitem": "b_lineitem",
        "silver.order_details": "s_order_details",
        "silver.customer_orders": "s_customer_orders",
    }
    units = [
        f"SELECT 'Null Check' AS check_type, '{label}' AS check_name, "
        f"count(CASE WHEN {col} IS NULL THEN 1 END) AS value FROM {src_map[table]}"
        for label, table, col in _NULL_CHECKS
    ]
    body = "\nUNION ALL ".join(units)
    return with_clause(
        ctes,
        f"""SELECT check_type, check_name, CAST(value AS BIGINT) AS value,
                   CASE WHEN value = 0 THEN 'PASS' ELSE 'FAIL' END AS status
            FROM ({body})""",
    )


# --- family 3: referential integrity -------------------------------------

def qc_referential_integrity(
    spark: SparkSession, sf_dir: str, sources: dict[str, DataFrame] | None = None
) -> DataFrame:
    """Orphan detection via anti-join (reference LEFT JOIN ... IS NULL,
    data_quality_checks.py:77-91 — identical physical plan)."""
    src = qc_sources(spark, sf_dir, sources)
    orders = src["bronze.orders"]
    customers = src["bronze.customers"]
    lineitem = src["bronze.lineitem"]
    od = src["silver.order_details"]

    checks = []
    if orders is not None and customers is not None:
        checks.append(
            (
                "orders -> customers",
                orders.join(
                    customers, orders.o_custkey == customers.c_custkey, "left_anti"
                ),
            )
        )
    if lineitem is not None and orders is not None:
        checks.append(
            (
                "lineitem -> orders",
                lineitem.join(
                    orders, lineitem.l_orderkey == orders.o_orderkey, "left_anti"
                ),
            )
        )
    if od is not None and orders is not None:
        checks.append(
            (
                "order_details -> orders",
                od.join(orders, od.order_key == orders.o_orderkey, "left_anti"),
            )
        )
    units = [
        df.agg(F.count(F.lit(1)).alias("value")).select(
            F.lit("Referential Integrity").alias("check_type"),
            F.lit(label).alias("check_name"),
            F.col("value"),
        )
        for label, df in checks
    ]
    return _status(reduce(DataFrame.unionAll, units), F.col("value") == 0)


def qc_referential_integrity_oracle_sql() -> str:
    ctes = silver_order_details_oracle_ctes()
    ctes.update(silver_customer_orders_oracle_ctes())
    units = [
        """SELECT 'Referential Integrity' AS check_type, 'orders -> customers' AS check_name,
           count(*) AS value FROM b_orders o LEFT JOIN b_customers c ON o.o_custkey = c.c_custkey
           WHERE c.c_custkey IS NULL""",
        """SELECT 'Referential Integrity', 'lineitem -> orders',
           count(*) FROM b_lineitem li LEFT JOIN b_orders o ON li.l_orderkey = o.o_orderkey
           WHERE o.o_orderkey IS NULL""",
        """SELECT 'Referential Integrity', 'order_details -> orders',
           count(*) FROM s_order_details od LEFT JOIN b_orders o ON od.order_key = o.o_orderkey
           WHERE o.o_orderkey IS NULL""",
    ]
    body = "\nUNION ALL ".join(units)
    return with_clause(
        ctes,
        f"""SELECT check_type, check_name, CAST(value AS BIGINT) AS value,
                   CASE WHEN value = 0 THEN 'PASS' ELSE 'FAIL' END AS status
            FROM ({body})""",
    )


# --- family 4: business rules --------------------------------------------

_RULES = [
    ("order_details.net_revenue >= 0", "net_revenue < 0"),
    ("order_details.quantity > 0", "quantity <= 0"),
    ("order_details.discount_pct in [0,1]", "discount_pct < 0 OR discount_pct > 1"),
    ("order_details.tax_pct in [0,1]", "tax_pct < 0 OR tax_pct > 1"),
]


def qc_business_rules(
    spark: SparkSession, sf_dir: str, sources: dict[str, DataFrame] | None = None
) -> DataFrame:
    """Business-rule violations (data_quality_checks.py:102-114)."""
    src = qc_sources(spark, sf_dir, sources)
    od = src["silver.order_details"]
    co = src["silver.customer_orders"]
    units = []
    if od is not None:
        units += [
            od.agg(F.count(F.when(F.expr(viol), 1)).alias("value")).select(
                F.lit("Business Rule").alias("check_type"),
                F.lit(label).alias("check_name"),
                F.col("value"),
            )
            for label, viol in _RULES
        ]
    if co is not None:
        units.append(
            co.agg(
                F.count(
                    F.when(
                        (F.col("fulfillment_rate") < 0)
                        | (F.col("fulfillment_rate") > 100),
                        1,
                    )
                ).alias("value")
            ).select(
                F.lit("Business Rule").alias("check_type"),
                F.lit("customer_orders.fulfillment_rate in [0,100]").alias("check_name"),
                F.col("value"),
            )
        )
        units.append(
            co.agg(
                F.count(F.when(F.col("customer_segment").isNull(), 1)).alias("value")
            ).select(
                F.lit("Business Rule").alias("check_type"),
                F.lit("customer_orders.customer_segment not null").alias("check_name"),
                F.col("value"),
            )
        )
    return _status(reduce(DataFrame.unionAll, units), F.col("value") == 0)


def qc_business_rules_oracle_sql() -> str:
    ctes = silver_order_details_oracle_ctes()
    ctes.update(silver_customer_orders_oracle_ctes())
    units = [
        f"SELECT 'Business Rule' AS check_type, '{label}' AS check_name, "
        f"count(CASE WHEN {viol} THEN 1 END) AS value FROM s_order_details"
        for label, viol in _RULES
    ] + [
        """SELECT 'Business Rule', 'customer_orders.fulfillment_rate in [0,100]',
           count(CASE WHEN fulfillment_rate < 0 OR fulfillment_rate > 100 THEN 1 END)
           FROM s_customer_orders""",
        """SELECT 'Business Rule', 'customer_orders.customer_segment not null',
           count(CASE WHEN customer_segment IS NULL THEN 1 END) FROM s_customer_orders""",
    ]
    body = "\nUNION ALL ".join(units)
    return with_clause(
        ctes,
        f"""SELECT check_type, check_name, CAST(value AS BIGINT) AS value,
                   CASE WHEN value = 0 THEN 'PASS' ELSE 'FAIL' END AS status
            FROM ({body})""",
    )


# --- family 5: freshness ---------------------------------------------------

FRESHNESS_SLO_HOURS = 25  # data_quality_checks.py:125


def qc_freshness(
    spark: SparkSession,
    sf_dir: str,
    sources: dict[str, DataFrame] | None = None,
    now: str | None = None,
) -> DataFrame:
    """Freshness — seconds since ``max(_ingested_at)`` / ``max(_refined_at)``
    within the 25-hour SLO (data_quality_checks.py:123-140).

    Over materialized warehouse tables (pipeline path, ``now=None`` ->
    wall-clock) this is the real check. The driver-contract path pins
    ``now=QC_AS_OF_NOW`` against the pinned audit stamps, making the lag
    deterministic and oracle-checkable — the same pinning pattern as
    AS_OF_DATE recency math."""
    src = qc_sources(spark, sf_dir, sources)
    now_expr = (
        F.current_timestamp() if now is None else F.lit(now).cast("timestamp")
    )
    units = []
    for name, df in src.items():
        if df is None:
            continue
        ts_col = "_ingested_at" if name.startswith("bronze.") else "_refined_at"
        if ts_col not in df.columns:
            df = df.withColumn(ts_col, now_expr)
        units.append(
            df.agg(
                (
                    F.unix_timestamp(now_expr) - F.unix_timestamp(F.max(ts_col))
                ).alias("value")
            ).select(
                F.lit("Freshness").alias("check_type"),
                F.lit(name).alias("check_name"),
                F.col("value"),
            )
        )
    return _status(
        reduce(DataFrame.unionAll, units),
        F.col("value") <= FRESHNESS_SLO_HOURS * 3600,
    )


def qc_freshness_oracle_sql() -> str:
    from ..constants import QC_AS_OF_NOW

    ctes = silver_order_details_oracle_ctes()
    ctes.update(silver_customer_orders_oracle_ctes())
    ctes.update(silver_supplier_parts_oracle_ctes())
    for name, cte in BRONZE_ORACLE_CTES().items():
        ctes.setdefault(name, cte)
    now = f"TIMESTAMP '{QC_AS_OF_NOW}'"
    units = [
        f"SELECT 'Freshness' AS check_type, 'bronze.{t}' AS check_name, "
        f"CAST(epoch({now}) - epoch(MAX(_ingested_at)) AS BIGINT) AS value FROM b_{t}"
        for t in (
            "orders", "customers", "lineitem", "suppliers", "parts",
            "partsupp", "nation", "region",
        )
    ] + [
        f"SELECT 'Freshness', 'silver.{t}', "
        f"CAST(epoch({now}) - epoch(MAX(_refined_at)) AS BIGINT) FROM s_{t}"
        for t in ("order_details", "customer_orders", "supplier_parts")
    ]
    body = " UNION ALL ".join(units)
    return with_clause(
        ctes,
        f"""SELECT check_type, check_name, value,
               CASE WHEN value <= {FRESHNESS_SLO_HOURS * 3600}
                    THEN 'PASS' ELSE 'FAIL' END AS status
           FROM ({body})""",
    )


# --- orchestration --------------------------------------------------------

def _fused_report(
    spark: SparkSession,
    sf_dir: str,
    src: dict[str, DataFrame],
    now: str | None = None,
) -> DataFrame:
    """The whole scalar battery as ONE aggregate per source table.

    The family functions above are the per-family audit surfaces (each is
    its own oracle-checked registry query), but union-ing them re-scans
    every table once per family — ``order_details`` was read 7 times per
    pipeline QC stage (count + null + 4 rules + freshness), and the 34
    single-branch aggregates cost ~0.7 s of driver plan build + ~1.4 s of
    execution per run at ANY data size. Here each table contributes one
    aggregate computing all of its scalar metrics (count-stars and
    max-timestamps still answer from parquet footer stats), unpivoted to
    the same labeled rows with an ``explode``; the referential-integrity
    anti-joins keep their own branches (they are joins, not per-table
    scalars). Row set identical to the family union — asserted in
    tests/test_pipeline.py.

    Freshness aggregates only each table's newest stamp; the lag against
    ``now`` is taken once, in one projection after the union, so ``now``
    appears in no per-table aggregate (whose generated code would
    otherwise differ on every run)."""
    branches = []
    stamped = []  # tables whose Freshness value is their newest stamp
    for name, df in src.items():
        if df is None:
            continue
        metrics: list[tuple[str, str, object]] = [
            ("Row Count", name, F.count(F.lit(1)))
        ]
        metrics += [
            ("Null Check", label, F.count(F.when(F.col(col).isNull(), 1)))
            for label, table, col in _NULL_CHECKS
            if table == name
        ]
        if name == "silver.order_details":
            metrics += [
                ("Business Rule", label, F.count(F.when(F.expr(viol), 1)))
                for label, viol in _RULES
            ]
        if name == "silver.customer_orders":
            metrics += [
                (
                    "Business Rule",
                    "customer_orders.fulfillment_rate in [0,100]",
                    F.count(
                        F.when(
                            (F.col("fulfillment_rate") < 0)
                            | (F.col("fulfillment_rate") > 100),
                            1,
                        )
                    ),
                ),
                (
                    "Business Rule",
                    "customer_orders.customer_segment not null",
                    F.count(F.when(F.col("customer_segment").isNull(), 1)),
                ),
            ]
        ts_col = "_ingested_at" if name.startswith("bronze.") else "_refined_at"
        if ts_col in df.columns:
            metrics.append(("Freshness", name, F.unix_timestamp(F.max(ts_col))))
            stamped.append(name)
        else:
            # an unstamped frame counts as stamped now (lag 0), as in
            # qc_freshness
            metrics.append(("Freshness", name, F.lit(0)))
        agged = df.agg(
            *[expr.cast("long").alias(f"_m{i}") for i, (_, _, expr) in enumerate(metrics)]
        )
        branches.append(
            agged.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(ctype).alias("check_type"),
                                F.lit(label).alias("check_name"),
                                F.col(f"_m{i}").alias("value"),
                            )
                            for i, (ctype, label, _) in enumerate(metrics)
                        ]
                    )
                ).alias("r")
            ).select("r.check_type", "r.check_name", "r.value")
        )
    branches.append(
        qc_referential_integrity(spark, sf_dir, src).select(
            "check_type", "check_name", "value"
        )
    )
    now_expr = (
        F.current_timestamp() if now is None else F.lit(now).cast("timestamp")
    )
    # `now` folds to a DECIMAL literal on purpose: generated code inlines
    # primitive literals (a per-run timestamp would make this stage's
    # class new on every run) but passes decimal ones in as references,
    # so the compiled class is reused whatever `now` is
    now_s = F.unix_timestamp(now_expr).cast("decimal(20,0)")
    report = reduce(DataFrame.unionAll, branches).withColumn(
        "value",
        F.when(
            (F.col("check_type") == "Freshness") & F.col("check_name").isin(stamped),
            (now_s - F.col("value")).cast("long"),
        ).otherwise(F.col("value")),
    )
    return _status(
        report,
        F.when(F.col("check_type") == "Row Count", F.col("value") > 0)
        .when(
            F.col("check_type") == "Freshness",
            F.col("value") <= FRESHNESS_SLO_HOURS * 3600,
        )
        .otherwise(F.col("value") == 0),
    )


def run_all_checks(
    spark: SparkSession,
    sf_dir: str,
    raise_on_fail: bool = True,
    sources: dict[str, DataFrame] | None = None,
    now: str | None = None,
) -> DataFrame:
    """Run every family; optionally raise on any FAIL (the reference never
    raises — data_quality_checks.py:144 — which we treat as a bug).
    ``now`` is the freshness reference time (default: wall clock), as in
    :func:`qc_freshness`.

    ``sources``: materialized warehouse tables from the pipeline runner;
    resolved once here so all families share them. The battery executes
    as the FUSED one-aggregate-per-table plan (:func:`_fused_report` —
    same labeled rows as the per-family union, a fraction of the scans
    and plan size)."""
    src = qc_sources(spark, sf_dir, sources)
    report = _fused_report(spark, sf_dir, src, now)
    # Always execute the report (the reference always displays it —
    # data_quality_checks.py:144); it is ~20 labeled scalar rows.
    failures = [r for r in report.collect() if r.status == "FAIL"]
    if raise_on_fail and failures:
        raise AssertionError(f"quality checks failed: {failures}")
    return report


ANOMALY_Z = 2.0  # |z| above this flags a daily-revenue outlier


def qc_revenue_anomaly(
    spark: SparkSession, sf_dir: str, sources: dict[str, DataFrame] | None = None
) -> DataFrame:
    """Daily-revenue anomaly detection: z-score of each order date's
    revenue against the corpus of daily totals, outliers flagged at
    |z| > ANOMALY_Z — the statistical QC family the reference's
    fixed-threshold checks lack (a revenue collapse inside the allowed
    range passes every rule check but not this one).

    The fact collapses to one row per order date first (map-side
    combined; DECIMAL-exact sums), so the whole-partition mean/stddev
    window runs over O(distinct dates) rows, never order rows. The flag
    tests the grid-ROUNDED z so the oracle can never disagree at the
    boundary."""
    src = qc_sources(spark, sf_dir, sources)
    orders = src["bronze.orders"]
    daily = orders.groupBy("o_orderdate").agg(
        F.sum("o_totalprice").alias("daily_revenue")
    )
    w = Window.partitionBy()
    rev = F.col("daily_revenue").cast("double")
    z = (rev - F.avg(rev).over(w)) / F.stddev(rev).over(w)
    return daily.select(
        F.col("o_orderdate").alias("order_date"),
        "daily_revenue",
        round_dbl(z, 4).alias("z_score"),
    ).withColumn("is_anomaly", F.abs(F.col("z_score")) > ANOMALY_Z)


def qc_revenue_anomaly_oracle_sql() -> str:
    ctes = silver_order_details_oracle_ctes()
    return with_clause(
        ctes,
        f"""SELECT order_date, CAST(daily_revenue AS DOUBLE) AS daily_revenue, z_score,
                   abs(z_score) > {ANOMALY_Z} AS is_anomaly
            FROM (
                SELECT order_date, daily_revenue,
                    CAST(ROUND(CAST(
                        (CAST(daily_revenue AS DOUBLE)
                         - AVG(CAST(daily_revenue AS DOUBLE)) OVER ())
                        / STDDEV(CAST(daily_revenue AS DOUBLE)) OVER ()
                     AS DECIMAL(38,8)), 4) AS DOUBLE) AS z_score
                FROM (
                    SELECT o_orderdate AS order_date,
                           SUM(o_totalprice) AS daily_revenue
                    FROM b_orders GROUP BY 1
                )
            )""",
    )


ROBUST_Z = 3.5  # Iglewicz-Hoaglin modified-z outlier cut


def _median_by_position(df: DataFrame, col: str, tiebreak: str):
    """One-row frame ``(med)``: the positional median — rows ranked by
    ``(col, tiebreak)``, the middle one (or the AVG of the middle two)
    picked by row number. Positional selection instead of an engine
    ``median()``/``percentile()`` because their even-count interpolation
    FORMULAS differ ((a+b)/2 vs a + 0.5*(b-a) — last-ulp divergent);
    AVG over the picked rows is sum/count on identical doubles in both
    engines. The global sort is over the aggregated (O(distinct dates))
    rows, never order rows — same bounded SinglePartition the z-score
    check's whole-partition window uses."""
    w = Window.orderBy(F.col(col).asc(), F.col(tiebreak).asc())
    ranked = df.withColumn("_rn", F.row_number().over(w))
    cnt = df.agg(F.count(F.lit(1)).alias("_n"))
    return (
        ranked.crossJoin(F.broadcast(cnt))
        .filter(
            # integer division, NOT a float cast: CAST(547.5 AS INT)
            # truncates in Spark but rounds in DuckDB — the even-count
            # median pick silently diverged until this was DIV/
            (F.col("_rn") == F.expr("(_n + 1) DIV 2"))
            | (F.col("_rn") == F.expr("(_n + 2) DIV 2"))
        )
        .agg(F.avg(col).alias("med"))
    )


def qc_revenue_anomaly_robust(
    spark: SparkSession, sf_dir: str, sources: dict[str, DataFrame] | None = None
) -> DataFrame:
    """Robust daily-revenue anomaly detection: the Iglewicz-Hoaglin
    modified z-score ``0.6745 * (x - median) / MAD`` with the 3.5 cut —
    the median/MAD twin of :func:`qc_revenue_anomaly`. The moment-based
    z-score has a masking problem this one does not: a single extreme day
    inflates the stddev enough to hide itself and every lesser outlier,
    while median and MAD have a 50% breakdown point. Two positional-median
    passes over the O(distinct dates) daily rollup; all remaining math is
    one multiply + one divide on the 4-dp grid."""
    src = qc_sources(spark, sf_dir, sources)
    daily = (
        src["bronze.orders"]
        .groupBy("o_orderdate")
        .agg(F.sum("o_totalprice").alias("rev"))
        .select(
            F.col("o_orderdate").alias("order_date"),
            F.col("rev").cast("double").alias("daily_revenue"),
        )
    )
    med = _median_by_position(daily, "daily_revenue", "order_date")
    with_med = daily.crossJoin(F.broadcast(med))
    dev = with_med.select(
        "order_date",
        "daily_revenue",
        "med",
        F.abs(F.col("daily_revenue") - F.col("med")).alias("absdev"),
    )
    mad = _median_by_position(dev, "absdev", "order_date").select(
        F.col("med").alias("mad")
    )
    scored = dev.crossJoin(F.broadcast(mad)).select(
        "order_date",
        "daily_revenue",
        round_dbl(
            F.lit(0.6745)
            * (F.col("daily_revenue") - F.col("med"))
            / F.nullif(F.col("mad"), F.lit(0.0)),
            4,
        ).alias("modified_z"),
    )
    return scored.withColumn(
        "is_anomaly", F.abs(F.col("modified_z")) > ROBUST_Z
    )


def qc_revenue_anomaly_robust_oracle_sql() -> str:
    ctes = silver_order_details_oracle_ctes()
    med_pick = """SELECT AVG({col}) AS med FROM (
            SELECT {col}, ROW_NUMBER() OVER (
                ORDER BY {col} ASC, {tb} ASC) AS _rn
            FROM {src}
        ), (SELECT COUNT(*) AS _n FROM {src})
        WHERE _rn = (_n + 1) // 2
           OR _rn = (_n + 2) // 2"""
    ctes["qa_daily"] = """
        SELECT o_orderdate AS order_date,
               CAST(SUM(o_totalprice) AS DOUBLE) AS daily_revenue
        FROM b_orders GROUP BY 1"""
    ctes["qa_m"] = med_pick.format(
        col="daily_revenue", tb="order_date", src="qa_daily"
    )
    ctes["qa_dev"] = """
        SELECT order_date, daily_revenue, med,
               abs(daily_revenue - med) AS absdev
        FROM qa_daily, qa_m"""
    ctes["qa_mm"] = med_pick.format(col="absdev", tb="order_date", src="qa_dev")
    return with_clause(
        ctes,
        f"""SELECT order_date, daily_revenue, modified_z,
                   abs(modified_z) > {ROBUST_Z} AS is_anomaly
            FROM (
                SELECT order_date, daily_revenue,
                    CAST(ROUND(CAST(
                        0.6745 * (daily_revenue - qa_dev.med)
                        / NULLIF(qa_mm.med, 0.0)
                     AS DECIMAL(38,8)), 4) AS DOUBLE) AS modified_z
                FROM qa_dev, qa_mm
            )""",
    )


def register_all(register) -> None:
    register("qc_row_counts", qc_row_counts, qc_row_counts_oracle_sql())
    register("qc_null_checks", qc_null_checks, qc_null_checks_oracle_sql())
    register(
        "qc_referential_integrity",
        qc_referential_integrity,
        qc_referential_integrity_oracle_sql(),
    )
    register("qc_business_rules", qc_business_rules, qc_business_rules_oracle_sql())
    register(
        "qc_revenue_anomaly_robust",
        qc_revenue_anomaly_robust,
        qc_revenue_anomaly_robust_oracle_sql(),
    )
    from ..constants import QC_AS_OF_NOW

    register(
        "qc_freshness",
        lambda spark, sf_dir: qc_freshness(spark, sf_dir, now=QC_AS_OF_NOW),
        qc_freshness_oracle_sql(),
    )
    register(
        "qc_revenue_anomaly", qc_revenue_anomaly, qc_revenue_anomaly_oracle_sql()
    )
