"""Round-5 relational additions: declarative data-quality expectations.

q60: the validation tier (operators/quality.py) run against the
orders table — the engine-side restatement of the constraint surface
the reference delegates to Postgres DDL (NOT NULL / PRIMARY KEY /
FOREIGN KEY, `/root/reference/pyopenetl/operations.py:296-355`), plus
the range/set/regexp checks an ETL pipeline wants BEFORE publish.
All non-referential checks compile into one conditional aggregate
over one scan; the FK check is one left-anti join against the
broadcast customer key set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from python_openetl_spark.workload.util import t


def q60_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_openetl_spark.operators import quality as Q

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return Q.run_checks(
        o,
        [
            Q.not_null("o_orderkey"),
            Q.unique("o_orderkey"),
            Q.not_null("o_totalprice"),
            Q.in_range("o_totalprice", 0.0, 600000.0),
            Q.accepted_values("o_orderstatus", ["O", "F", "P"]),
            Q.matches("o_orderpriority", r"^[0-9]-[A-Z ]+$"),
            Q.ref_integrity("o_custkey", c, "c_custkey"),
        ],
        "orders",
    )


def q61_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the event stream: per user, the
    earliest view, the earliest click strictly after that view, the
    earliest purchase strictly after that click — the canonical
    product-analytics shape. Each stage is one filtered min-aggregate
    joined forward (no window over the whole stream, no self-join
    explosion: the stage frontier is one row per user, and event-type
    filters push into the scan). Output is one row of stage counts +
    exact-decimal median hours view->purchase for completers."""
    from pyspark.sql import functions as F

    e = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"), F.min("t_view").alias("t_view"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"), F.min("t_view").alias("t_view"))
    )
    p = p.withColumn(
        "hours",
        (F.unix_micros(F.col("t_purchase")) - F.unix_micros(F.col("t_view")))
        .cast("double") / F.lit(3600e6),
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_after_view")))
        .crossJoin(
            p.agg(
                F.count(F.lit(1)).alias("n_purchase_after_click"),
                F.round(F.expr("percentile(hours, 0.5)"), 6).alias(
                    "median_hours_to_purchase"
                ),
            )
        )
    )


def q62_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by the week of their
    FIRST event; for each (cohort week, week offset), how many of the
    cohort were active. Two aggregates and one join — the cohort
    frontier is one row per user, and the (cohort, offset) matrix is
    bounded by weeks², never events."""
    from pyspark.sql import functions as F

    e = t(spark, sf_dir, "events").select("user_id", F.to_date("ts").alias("d"))
    first = e.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    cohort = first.select(
        "user_id",
        F.date_trunc("week", F.col("cohort_day")).cast("date").alias("cohort_week"),
    )
    active = e.select(
        "user_id", F.date_trunc("week", F.col("d")).cast("date").alias("week")
    ).distinct()
    return (
        active.join(cohort, "user_id")
        .groupBy(
            # string-typed week label: pandas round-trips dates through
            # datetime64, so raw DATE columns dtype-mismatch the oracle
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


QUERIES = {
    "q60_data_quality_report": q60_data_quality_report,
    "q61_conversion_funnel": q61_conversion_funnel,
    "q62_cohort_retention": q62_cohort_retention,
}

ORACLE = {
    # Spark exact `percentile` == DuckDB quantile_cont (the q59/d37
    # parity device); hours = one epoch-µs subtraction + one division
    "q61_conversion_funnel": """
        WITH v AS (
          SELECT user_id, MIN(ts) AS t_view FROM events
          WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
          SELECT e.user_id, MIN(e.ts) AS t_click, MIN(v.t_view) AS t_view
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t_view
          GROUP BY e.user_id
        ),
        p AS (
          SELECT e.user_id, MIN(e.ts) AS t_purchase, MIN(c.t_view) AS t_view
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          GROUP BY e.user_id
        ),
        ph AS (
          SELECT CAST(epoch_us(t_purchase) - epoch_us(t_view) AS DOUBLE)
                 / 3600000000.0 AS hours
          FROM p
        )
        SELECT (SELECT COUNT(*) FROM v) AS n_view,
               (SELECT COUNT(*) FROM c) AS n_click_after_view,
               (SELECT COUNT(*) FROM ph) AS n_purchase_after_click,
               (SELECT round(quantile_cont(hours, 0.5), 6) FROM ph)
                 AS median_hours_to_purchase
    """,
    # both week-truncations land on ISO Mondays, so the day diff is an
    # exact multiple of 7 and the /7 cast is rounding-proof
    "q62_cohort_retention": """
        WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        fst AS (SELECT user_id, MIN(d) AS cohort_day FROM e GROUP BY user_id),
        cohort AS (
          SELECT user_id, CAST(date_trunc('week', cohort_day) AS DATE) AS cohort_week
          FROM fst
        ),
        active AS (
          SELECT DISTINCT user_id, CAST(date_trunc('week', d) AS DATE) AS week
          FROM e
        )
        SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
               CAST(date_diff('day', cohort_week, week) / 7 AS INT) AS week_offset,
               COUNT(DISTINCT user_id) AS n_active
        FROM active JOIN cohort USING (user_id)
        GROUP BY 1, 2
    """,
    "q60_data_quality_report": """
        WITH agg AS (
          SELECT
            COALESCE(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END), 0) AS nn_key,
            COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS uq_key,
            COALESCE(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END), 0) AS nn_price,
            COALESCE(SUM(CASE WHEN o_totalprice IS NOT NULL
                      AND (o_totalprice < 0.0 OR o_totalprice > 600000.0)
                     THEN 1 ELSE 0 END), 0) AS rg_price,
            COALESCE(SUM(CASE WHEN o_orderstatus IS NOT NULL
                      AND o_orderstatus NOT IN ('O', 'F', 'P')
                     THEN 1 ELSE 0 END), 0) AS av_status,
            COALESCE(SUM(CASE WHEN o_orderpriority IS NOT NULL
                      AND NOT regexp_matches(o_orderpriority, '^[0-9]-[A-Z ]+$')
                     THEN 1 ELSE 0 END), 0) AS re_prio
          FROM orders
        ),
        fk AS (
          SELECT COUNT(*) AS orphans FROM orders
          WHERE o_custkey IS NOT NULL
            AND o_custkey NOT IN (SELECT c_custkey FROM customer
                                  WHERE c_custkey IS NOT NULL)
        )
        SELECT 'orders' AS table_name, v.check, v."column",
               v.n_violations, v.n_violations = 0 AS passed
        FROM (
          SELECT 'not_null(o_orderkey)' AS check, 'o_orderkey' AS "column",
                 CAST(nn_key AS BIGINT) AS n_violations FROM agg
          UNION ALL
          SELECT 'unique(o_orderkey)', 'o_orderkey',
                 CAST(uq_key AS BIGINT) FROM agg
          UNION ALL
          SELECT 'not_null(o_totalprice)', 'o_totalprice',
                 CAST(nn_price AS BIGINT) FROM agg
          UNION ALL
          SELECT 'in_range(o_totalprice)', 'o_totalprice',
                 CAST(rg_price AS BIGINT) FROM agg
          UNION ALL
          SELECT 'accepted_values(o_orderstatus)', 'o_orderstatus',
                 CAST(av_status AS BIGINT) FROM agg
          UNION ALL
          SELECT 'matches(o_orderpriority)', 'o_orderpriority',
                 CAST(re_prio AS BIGINT) FROM agg
          UNION ALL
          SELECT 'ref_integrity(o_custkey)', 'o_custkey',
                 CAST(orphans AS BIGINT) FROM fk
        ) v
    """,
}
