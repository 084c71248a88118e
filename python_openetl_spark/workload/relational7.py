"""Round-8 relational additions.

- q77: linear interpolation gap fill — the numeric complement of
  q76's LOCF: masked readings are reconstructed linearly between the
  nearest non-null neighbors on each side (by row distance within the
  user's event sequence), with LOCF/NOCB degradation at sequence
  edges. The sensor-timeseries repair shape every feature pipeline
  eventually needs.

Reference parity: the reference's temporal surface is the sliding
created_at/updated_at delta filter (pyopenetl/operations.py:515-609);
q77 covers the downstream repair its warehouse users run on such
event streams, expressed with Spark's IGNORE-NULLS window pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_openetl_spark.workload.util import t


def q77_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap fill by linear interpolation: every 5th reading is masked
    NULL, then reconstructed as ``prev + (next - prev) · steps/gap``
    between the nearest non-null neighbors (IGNORE NULLS window pair,
    row-distance weights); a leading gap takes NOCB, a trailing gap
    LOCF. Two window passes over one shuffle partition set
    (user_id) — the rn pass and the neighbor pass share the same
    partitioning, so Catalyst plans ONE exchange. The interpolation
    arithmetic is the identical IEEE expression tree on both engines
    (no ROUND anywhere), so values hash-match bit-for-bit.

    Ordering is total: (ts, event_id, v NULLS FIRST) — the v tiebreak
    pins same-timestamp duplicate event_ids (the hostile m02 shape),
    and Spark's ASC-NULLS-FIRST default is stated explicitly in the
    oracle because DuckDB's ASC default is NULLS LAST."""
    ev = t(spark, sf_dir, "events")
    src = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(
            F.col("value")
        ).alias("v"),
    )
    w_rn = Window.partitionBy("user_id").orderBy(
        "ts", "event_id", F.col("v").asc_nulls_first()
    )
    r = src.withColumn("rn", F.row_number().over(w_rn))
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    x = r.select(
        "event_id",
        "user_id",
        "v",
        "rn",
        F.last("v", ignorenulls=True).over(w_prev).alias("prev_val"),
        F.last(F.when(F.col("v").isNotNull(), F.col("rn")), ignorenulls=True)
        .over(w_prev)
        .alias("prev_rn"),
        F.first("v", ignorenulls=True).over(w_next).alias("next_val"),
        F.first(F.when(F.col("v").isNotNull(), F.col("rn")), ignorenulls=True)
        .over(w_next)
        .alias("next_rn"),
    )
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("prev_val").isNotNull() & F.col("next_val").isNotNull(),
            F.col("prev_val")
            + (F.col("next_val") - F.col("prev_val"))
            * (
                (F.col("rn") - F.col("prev_rn")).cast("double")
                / (F.col("next_rn") - F.col("prev_rn")).cast("double")
            ),
        )
        .when(F.col("prev_val").isNotNull(), F.col("prev_val"))
        .otherwise(F.col("next_val"))
    )
    return x.select(
        "event_id", "user_id", F.col("v").alias("observed"), filled.alias("filled")
    )


QUERIES = {
    "q77_linear_interpolation": q77_linear_interpolation,
}

ORACLE = {
    "q77_linear_interpolation": """
        WITH src AS (
          SELECT event_id, user_id, ts,
                 CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
          FROM events
        ),
        r AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY ts, event_id, v NULLS FIRST) AS rn
          FROM src
        ),
        x AS (
          SELECT event_id, user_id, v, rn,
                 LAST_VALUE(v IGNORE NULLS) OVER wprev AS prev_val,
                 LAST_VALUE(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
                   OVER wprev AS prev_rn,
                 FIRST_VALUE(v IGNORE NULLS) OVER wnext AS next_val,
                 FIRST_VALUE(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
                   OVER wnext AS next_rn
          FROM r
          WINDOW wprev AS (PARTITION BY user_id ORDER BY rn
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 wnext AS (PARTITION BY user_id ORDER BY rn
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT event_id, user_id, v AS observed,
               CASE WHEN v IS NOT NULL THEN v
                    WHEN prev_val IS NOT NULL AND next_val IS NOT NULL
                      THEN prev_val + (next_val - prev_val)
                           * (CAST(rn - prev_rn AS DOUBLE)
                              / CAST(next_rn - prev_rn AS DOUBLE))
                    WHEN prev_val IS NOT NULL THEN prev_val
                    ELSE next_val END AS filled
        FROM x
    """,
}


def q78_sliding_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window robust statistics: per user, MEDIAN / MIN / MAX of
    the last 4 readings (ROWS 3 PRECEDING..CURRENT) — the outlier-
    resistant smoother a sensor pipeline runs where q06's running mean
    is skew-fragile. Spark rejects percentile aggregates over a window
    FRAME (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC), so the median is
    realized as the lag-array idiom: gather the frame's four values
    with lag(1..3), truncate to the true frame size at partition
    starts (least(rn, 4) — lag-NULL and value-NULL are
    indistinguishable otherwise), drop genuine NULLs (MEDIAN's
    semantics), array_sort, and pick/average the middles — the same
    exact-selection arithmetic as DuckDB's windowed MEDIAN, so doubles
    hash bit-for-bit ((a+b)/2 on identical inputs). min4/max4 stay
    plain frame aggregates. Ordering is total via
    (ts, event_id, value NULLS FIRST) — the q77 tiebreak rule."""
    ev = t(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy(
        "ts", "event_id", F.col("value").asc_nulls_first()
    )
    r = ev.select(
        "event_id", "user_id", "ts", "value"
    ).withColumn("rn", F.row_number().over(w_ord))
    w_rn = Window.partitionBy("user_id").orderBy("rn")
    w = w_rn.rowsBetween(-3, Window.currentRow)
    frame = F.slice(
        F.array(
            F.col("value"),
            F.lag("value", 1).over(w_rn),
            F.lag("value", 2).over(w_rn),
            F.lag("value", 3).over(w_rn),
        ),
        F.lit(1),
        F.least(F.col("rn"), F.lit(4)),
    )
    vals = F.array_sort(F.filter(frame, lambda x: x.isNotNull()))
    x = r.select(
        "event_id",
        "user_id",
        "rn",
        vals.alias("__vals"),
        F.min("value").over(w).alias("min4"),
        F.max("value").over(w).alias("max4"),
    )
    n = F.size("__vals")
    h = F.floor(n / F.lit(2)).cast("int")
    med = (
        F.when(n == 0, F.lit(None).cast("double"))
        .when(
            n % 2 == 1, F.element_at("__vals", h + F.lit(1))
        )
        .otherwise(
            (F.element_at("__vals", h) + F.element_at("__vals", h + F.lit(1)))
            / F.lit(2.0)
        )
    )
    return x.select("event_id", "user_id", med.alias("med4"), "min4", "max4")


QUERIES["q78_sliding_median"] = q78_sliding_median

ORACLE["q78_sliding_median"] = """
    WITH r AS (
      SELECT event_id, user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY ts, event_id, value NULLS FIRST) AS rn
      FROM events
    )
    SELECT event_id, user_id,
           MEDIAN(value) OVER w AS med4,
           MIN(value) OVER w AS min4,
           MAX(value) OVER w AS max4
    FROM r
    WINDOW w AS (PARTITION BY user_id ORDER BY rn
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
"""


def q79_regression_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares regression + correlation of extended
    price on quantity — the regr_slope/regr_intercept/corr family,
    realized scale-safely: ONE aggregation pass accumulates the five
    classic sufficient statistics (Σx, Σy, Σx², Σy², Σxy) as exact
    DECIMALs (the fixture doubles carry ≤ 2 decimal digits, so the
    casts are lossless and the sums order-independent — partial
    aggregation combines freely across 1000 executors), and the
    slope/intercept/corr arithmetic runs on the exact sums in ONE
    identical IEEE double expression tree on both engines (sqrt is
    correctly rounded everywhere; no ROUND, the q77 rule). Spark's own
    regr_slope/corr aggregate in float and are order-DEPENDENT — a
    different partitioning changes their bits, which is exactly what a
    differential gate cannot tolerate; the sufficient-statistics form
    is how a warehouse computes these at scale anyway."""
    ev = t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(6,2)")
    y = F.col("l_extendedprice").cast("decimal(10,2)")
    agg = ev.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    cov_n = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    var_x_n = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y_n = nd * F.col("syy") - F.col("sy") * F.col("sy")
    # degenerate groups (constant x / single row) have zero variance:
    # slope/corr are undefined -> NULL on BOTH engines (ANSI Spark
    # would otherwise raise DIVIDE_BY_ZERO; the oracle mirrors the
    # guard so NULL-ness matches exactly)
    slope = F.when(var_x_n != 0, cov_n / var_x_n)
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        F.col("n").alias("n_rows"),
        slope.alias("slope"),
        F.when(var_x_n != 0, (F.col("sy") - slope * F.col("sx")) / nd).alias(
            "intercept"
        ),
        F.when(
            (var_x_n > 0) & (var_y_n > 0),
            cov_n / (F.sqrt(var_x_n) * F.sqrt(var_y_n)),
        ).alias("corr_xy"),
    )


QUERIES["q79_regression_aggs"] = q79_regression_aggs

ORACLE["q79_regression_aggs"] = """
    WITH agg AS (
      SELECT l_returnflag, l_linestatus,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(6,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(6,2))
                      * CAST(l_quantity AS DECIMAL(6,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2))
                      * CAST(l_extendedprice AS DECIMAL(10,2))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(6,2))
                      * CAST(l_extendedprice AS DECIMAL(10,2))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus, n AS n_rows,
           CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0 THEN
             (CAST(n AS DOUBLE) * sxy - sx * sy)
               / (CAST(n AS DOUBLE) * sxx - sx * sx) END AS slope,
           CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0 THEN
             (sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
                    / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
               / CAST(n AS DOUBLE) END AS intercept,
           CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
                 AND CAST(n AS DOUBLE) * syy - sy * sy > 0 THEN
             (CAST(n AS DOUBLE) * sxy - sx * sy)
               / (SQRT(CAST(n AS DOUBLE) * sxx - sx * sx)
                  * SQRT(CAST(n AS DOUBLE) * syy - sy * sy)) END AS corr_xy
    FROM agg
"""


def q80_strict_sequence_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-SEQUENCE funnel (the common MATCH_RECOGNIZE shape): per
    user, occurrences of view → click → purchase as ADJACENT events in
    the user's event-time stream, each step within 30 minutes of the
    previous — q61's funnel counts users who EVER did each step in
    order; this detects the contiguous pattern itself, which is what
    "did the session convert directly" actually asks. Realized with
    the LEAD pair over one (user) partitioning (pattern matching as
    window adjacency — no self-joins, no explosion), a single filter
    for the pattern row, then a per-user rollup (match count + first
    match). Ordering is total via (ts, event_id), the q77 tiebreak
    rule; timestamps compare as unix_micros integers on both engines.
    Since round 10 this is the 3-step instance of the generalized
    ``operators/funnel.py match_sequence`` (r9 verdict #8) — the
    oracle SQL below is unchanged, which pins the refactor."""
    from python_openetl_spark.operators.funnel import match_sequence

    m = match_sequence(
        t(spark, sf_dir, "events"),
        [
            F.col("event_type") == "view",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
        max_gap_us=1_800_000_000,
    )
    return m.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_funnels"),
        F.min("start_us").alias("first_funnel_us"),
    )


QUERIES["q80_strict_sequence_funnel"] = q80_strict_sequence_funnel

ORACLE["q80_strict_sequence_funnel"] = """
    WITH x AS (
      SELECT user_id, event_type, epoch_us(ts) AS us,
             LEAD(event_type, 1) OVER w AS t1,
             LEAD(epoch_us(ts), 1) OVER w AS us1,
             LEAD(event_type, 2) OVER w AS t2,
             LEAD(epoch_us(ts), 2) OVER w AS us2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, COUNT(*) AS n_funnels, MIN(us) AS first_funnel_us
    FROM x
    WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
      AND us1 - us <= 1800000000 AND us2 - us1 <= 1800000000
    GROUP BY user_id
"""
