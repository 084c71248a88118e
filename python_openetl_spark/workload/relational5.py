"""Round-5 relational additions, batch 2: time-series regularization.

- q63: per-nation daily order series densified onto its date spine
  (operators/timeseries.py ``gap_fill``) — zero-fill for counts and
  revenue, forward-fill for the price level. The oracle builds the
  same spine with DuckDB's scalar ``generate_series`` and fills with
  ``last_value(... IGNORE NULLS)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_openetl_spark.workload.util import davg, dsum, t


def q63_gap_fill_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_openetl_spark.operators.timeseries import gap_fill

    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    daily = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nation_key"),
            F.to_date("o_orderdate").alias("obs_day"),
        )
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            dsum("o_totalprice").alias("revenue"),
            davg("o_totalprice").alias("avg_price"),
        )
    )
    filled = gap_fill(
        daily,
        ["nation_key"],
        "obs_day",
        zero_cols=["order_cnt", "revenue"],
        ffill_cols=["avg_price"],
    )
    return filled.select(
        "nation_key",
        F.date_format("obs_day", "yyyy-MM-dd").alias("obs_day"),
        "order_cnt",
        "revenue",
        F.col("avg_price").alias("avg_price_ffill"),
    )


def q64_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (operators/asof.py): each purchase
    matched to the same user's closest click in EITHER direction within
    a 30-minute tolerance; exact-distance ties prefer the backward
    match (pandas ``merge_asof(direction='nearest')`` parity, pinned in
    tests/test_asof.py). One shuffle, two per-key sorts."""
    from python_openetl_spark.operators.asof import asof_join

    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), "user_id", "ts", "value"
    )
    out = asof_join(
        purchases,
        clicks,
        on="ts",
        by="user_id",
        seq_col="c_id",
        direction="nearest",
        tolerance=1800,
    )
    return out.select(
        "p_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        F.col("asof_c_id").alias("c_id"),
        F.unix_micros("asof_ts").alias("click_us"),
        F.col("asof_value").alias("click_value"),
    )


#: planted-violation id offsets for q65 (one family per defect class)
_Q65_OFF = 10_000_000


def _orders_with_defects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic defect stream: every 50th order re-appears four
    times, each copy violating exactly one expectation, plus every
    500th order duplicated verbatim (unique violation on both copies)."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    seed = o.filter(F.col("o_orderkey") % 50 == 0)
    bad_price = seed.select(
        (F.col("o_orderkey") + _Q65_OFF).alias("o_orderkey"), "o_custkey",
        "o_orderstatus", F.lit(-5.0).alias("o_totalprice"), "o_orderpriority",
    )
    bad_status = seed.select(
        (F.col("o_orderkey") + 2 * _Q65_OFF).alias("o_orderkey"), "o_custkey",
        F.lit("X").alias("o_orderstatus"), "o_totalprice", "o_orderpriority",
    )
    bad_prio = seed.select(
        (F.col("o_orderkey") + 3 * _Q65_OFF).alias("o_orderkey"), "o_custkey",
        "o_orderstatus", "o_totalprice", F.lit("9-BOGUS").alias("o_orderpriority"),
    )
    orphan = seed.select(
        (F.col("o_orderkey") + 4 * _Q65_OFF).alias("o_orderkey"),
        F.lit(-999).cast("long").alias("o_custkey"),
        "o_orderstatus", "o_totalprice", "o_orderpriority",
    )
    dup = o.filter(F.col("o_orderkey") % 500 == 0)
    return o.unionByName(bad_price).unionByName(bad_status).unionByName(
        bad_prio
    ).unionByName(orphan).unionByName(dup)


def q65_quarantine_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level quality gate (operators/quality.py quarantine): the
    planted defect stream routed through five expectations; returns the
    quarantined rows with their comma-joined failure reasons (check
    order = declaration order, deterministic on both engines)."""
    from python_openetl_spark.operators import quality as Q

    stream = _orders_with_defects(spark, sf_dir)
    cust = t(spark, sf_dir, "customer")
    checks = [
        Q.in_range("o_totalprice", 0.0, 1_000_000.0),
        Q.accepted_values("o_orderstatus", ["O", "F", "P"]),
        Q.matches("o_orderpriority", r"^[1-5]-"),
        Q.unique("o_orderkey"),
        Q.ref_integrity("o_custkey", cust, "c_custkey"),
    ]
    bad = Q.quarantine(stream, checks).filter(~F.col("dq_valid"))
    return bad.select("o_orderkey", "o_custkey", "dq_reasons")


def q66_customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / customer-value decile report: per-customer revenue
    ranked into NTILE(10) deciles, then per-decile size, revenue, and
    cumulative revenue share. The decile assignment uses
    ``operators/ranking.py global_ntile`` — the exact NTILE integers via
    banded two-pass ranking — instead of a partitionless window, so the
    per-customer rollup (~10^8 rows at 100 TB) never funnels through one
    task; the cumulative share over the 10-row decile relation is a
    broadcast triangle self-join (cardinality fixed at 10 by
    construction), leaving the whole plan window-free at fact scale.
    All sums stay DECIMAL until the final share division."""
    from python_openetl_spark.operators.ranking import global_ntile

    per_cust = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(24,6)")).alias("rev"))
    )
    dec = global_ntile(per_cust, "rev", ["o_custkey"], k=10, out_col="decile")
    by_dec = dec.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("rev").alias("dec_rev"),
    ).persist()  # 10 rows; referenced by three join branches below
    total = by_dec.agg(F.sum("dec_rev").alias("tot"))
    prior = by_dec.select(F.col("decile").alias("d2"), F.col("dec_rev").alias("rev2"))
    return (
        by_dec.join(F.broadcast(prior), F.col("d2") <= F.col("decile"))
        .groupBy("decile", "n_customers", "dec_rev")
        .agg(F.sum("rev2").alias("cum_rev"))
        .join(F.broadcast(total))
        .select(
            "decile",
            "n_customers",
            F.col("dec_rev").cast("double").alias("decile_revenue"),
            F.round((F.col("cum_rev") / F.col("tot")).cast("double"), 6).alias("cum_share"),
        )
    )


def q67_interval_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval-overlap aggregation: each event becomes an
    interval [ts, ts + (value mod 30 + 1) minutes); max concurrent
    intervals per event_type via the +1/-1 boundary explode and a
    running sum — NO self-join (the naive overlap join is quadratic per
    key; the sweep is one explode + one partitioned sort). Boundary
    convention: ends sort BEFORE starts at the same instant
    (half-open intervals — a meeting ending exactly when another
    starts does not overlap it)."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "ts", "value")
    iv = ev.select(
        "event_type",
        F.unix_micros("ts").alias("s"),
        (
            F.unix_micros("ts")
            # floor, not cast: double->long truncates in Spark but ROUNDS
            # in DuckDB; floor agrees everywhere (and pmod covers
            # negative values on both engines)
            + (F.pmod(F.floor("value").cast("long"), F.lit(30)) + 1) * 60_000_000
        ).alias("e"),
    )
    pts = iv.select(
        "event_type", F.col("s").alias("t"), F.lit(1).alias("d")
    ).unionByName(
        iv.select("event_type", F.col("e").alias("t"), F.lit(-1).alias("d"))
    )
    w = Window.partitionBy("event_type").orderBy(
        "t", "d"  # d=-1 sorts before +1: close before open at the same t
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    conc = pts.withColumn("c", F.sum("d").over(w))
    return conc.groupBy("event_type").agg(
        F.max("c").cast("long").alias("max_concurrent"),
        F.count(F.lit(1)).alias("n_boundaries"),
    )


def q68_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection: median absolute deviation
    (exact medians via ``percentile``, interpolating — both engines'
    continuous-median definition) and the count of events beyond
    3 × MAD from the group median. Two grouped passes over events
    (median, then MAD of residuals — MAD is not algebraic, a second
    pass is the honest plan) and one broadcast join of the 5-row stats
    back onto the stream; medians and bounds rounded to 6 so the
    comparison is engine-stable."""
    ev = t(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med")
    )
    j = ev.join(F.broadcast(med), "event_type")
    mad = j.groupBy("event_type").agg(
        F.round(F.expr("percentile(abs(value - med), 0.5)"), 6).alias("mad"),
        F.first("med").alias("med"),
    )
    out = ev.join(F.broadcast(mad), "event_type")
    return out.groupBy("event_type").agg(
        F.first("med").alias("med"),
        F.first("mad").alias("mad"),
        F.sum(
            (F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad")).cast("long")
        ).alias("n_outliers"),
        F.count(F.lit(1)).alias("n_events"),
    )


QUERIES = {
    "q63_gap_fill_daily_revenue": q63_gap_fill_daily_revenue,
    "q64_asof_nearest": q64_asof_nearest,
    "q65_quarantine_rows": q65_quarantine_rows,
    "q66_customer_value_deciles": q66_customer_value_deciles,
    "q67_interval_concurrency": q67_interval_concurrency,
    "q68_mad_outliers": q68_mad_outliers,
}

ORACLE = {
    "q63_gap_fill_daily_revenue": """
        WITH daily AS (
          SELECT c_nationkey AS nation_key, o_orderdate::DATE AS obs_day,
                 COUNT(*) AS order_cnt,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) / COUNT(*) AS avg_price
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY 1, 2
        ),
        bounds AS (
          SELECT nation_key, MIN(obs_day) AS dmin, MAX(obs_day) AS dmax
          FROM daily GROUP BY 1
        ),
        spine AS (
          SELECT nation_key,
                 unnest(generate_series(dmin, dmax, INTERVAL 1 DAY))::DATE AS obs_day
          FROM bounds
        ),
        j AS (
          SELECT s.nation_key, s.obs_day,
                 COALESCE(d.order_cnt, 0) AS order_cnt,
                 COALESCE(d.revenue, 0.0) AS revenue,
                 d.avg_price
          FROM spine s LEFT JOIN daily d USING (nation_key, obs_day)
        )
        SELECT nation_key, STRFTIME(obs_day, '%Y-%m-%d') AS obs_day,
               order_cnt, revenue,
               last_value(avg_price IGNORE NULLS) OVER (
                 PARTITION BY nation_key ORDER BY obs_day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS avg_price_ffill
        FROM j
    """,
    # candidate semantics mirror the operator: the latest click <= the
    # purchase IS the nearest backward candidate (and symmetrically
    # forward), so a bounded left join + argmin(gap) states "nearest
    # within tolerance"; ties prefer backward, then the greatest c_id
    # (the operator's seq_col) among equal-timestamp clicks
    "q64_asof_nearest": """
        WITH p AS (SELECT event_id AS p_id, user_id, ts FROM events
                   WHERE event_type = 'purchase'),
        c AS (SELECT event_id AS c_id, user_id, ts, value FROM events
              WHERE event_type = 'click'),
        cand AS (
          SELECT p.p_id, p.user_id, epoch_us(p.ts) AS purchase_us,
                 c.c_id, epoch_us(c.ts) AS click_us, c.value AS click_value,
                 abs(epoch_us(p.ts) - epoch_us(c.ts)) AS gap,
                 CASE WHEN epoch_us(c.ts) <= epoch_us(p.ts) THEN 0 ELSE 1 END AS fwd
          FROM p LEFT JOIN c
            ON p.user_id = c.user_id
           AND abs(epoch_us(p.ts) - epoch_us(c.ts)) <= 1800000000
        )
        SELECT p_id, user_id, purchase_us, c_id, click_us, click_value FROM (
          SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY p_id
                   ORDER BY gap NULLS LAST, fwd, c_id DESC) AS rn
          FROM cand
        ) WHERE rn = 1
    """,
    "q65_quarantine_rows": """
        WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                          o_totalprice, o_orderpriority FROM orders),
        seed AS (SELECT * FROM o WHERE o_orderkey % 50 = 0),
        stream AS (
          SELECT * FROM o
          UNION ALL SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
                           -5.0, o_orderpriority FROM seed
          UNION ALL SELECT o_orderkey + 20000000, o_custkey, 'X',
                           o_totalprice, o_orderpriority FROM seed
          UNION ALL SELECT o_orderkey + 30000000, o_custkey, o_orderstatus,
                           o_totalprice, '9-BOGUS' FROM seed
          UNION ALL SELECT o_orderkey + 40000000, -999, o_orderstatus,
                           o_totalprice, o_orderpriority FROM seed
          UNION ALL SELECT * FROM o WHERE o_orderkey % 500 = 0
        ),
        ann AS (
          SELECT s.*,
            (s.o_totalprice IS NOT NULL
               AND (s.o_totalprice < 0.0 OR s.o_totalprice > 1000000.0)) AS v1,
            (s.o_orderstatus IS NOT NULL
               AND s.o_orderstatus NOT IN ('O', 'F', 'P')) AS v2,
            (s.o_orderpriority IS NOT NULL
               AND NOT regexp_matches(s.o_orderpriority, '^[1-5]-')) AS v3,
            (s.o_orderkey IS NOT NULL
               AND COUNT(*) OVER (PARTITION BY s.o_orderkey) > 1) AS v4,
            (s.o_custkey IS NOT NULL AND c.c_custkey IS NULL) AS v5
          FROM stream s
          LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
            ON s.o_custkey = c.c_custkey
        )
        SELECT o_orderkey, o_custkey,
               concat_ws(',',
                 CASE WHEN v1 THEN 'in_range(o_totalprice)' END,
                 CASE WHEN v2 THEN 'accepted_values(o_orderstatus)' END,
                 CASE WHEN v3 THEN 'matches(o_orderpriority)' END,
                 CASE WHEN v4 THEN 'unique(o_orderkey)' END,
                 CASE WHEN v5 THEN 'ref_integrity(o_custkey)' END) AS dq_reasons
        FROM ann
        WHERE v1 OR v2 OR v3 OR v4 OR v5
    """,
    "q66_customer_value_deciles": """
        WITH per_cust AS (
          SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS rev
          FROM orders GROUP BY 1
        ),
        dec AS (
          SELECT o_custkey, rev,
                 NTILE(10) OVER (ORDER BY rev DESC, o_custkey) AS decile
          FROM per_cust
        ),
        by_dec AS (
          SELECT decile, COUNT(*) AS n_customers, SUM(rev) AS dec_rev
          FROM dec GROUP BY 1
        )
        SELECT decile, n_customers,
               CAST(dec_rev AS DOUBLE) AS decile_revenue,
               ROUND(CAST(SUM(dec_rev) OVER (ORDER BY decile
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      / SUM(dec_rev) OVER () AS DOUBLE), 6) AS cum_share
        FROM by_dec
    """,
    # MAX over the sweep's prefix sums is order-independent within
    # equal-(t,d) tie runs (same value set), so the compare is stable
    "q67_interval_concurrency": """
        WITH iv AS (
          SELECT event_type, epoch_us(ts) AS s,
                 epoch_us(ts)
                   + ((((FLOOR(value)::BIGINT % 30) + 30) % 30) + 1) * 60000000 AS e
          FROM events
        ),
        pts AS (
          SELECT event_type, s AS t, 1 AS d FROM iv
          UNION ALL
          SELECT event_type, e AS t, -1 AS d FROM iv
        ),
        c AS (
          SELECT event_type,
                 SUM(d) OVER (PARTITION BY event_type ORDER BY t, d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
          FROM pts
        )
        SELECT event_type, CAST(MAX(c) AS BIGINT) AS max_concurrent,
               COUNT(*) AS n_boundaries
        FROM c GROUP BY 1
    """,
    # interpolating (continuous) median on both engines; stats rounded
    # to 6 before the residual pass so the outlier threshold is the
    # same literal on both sides
    "q68_mad_outliers": """
        WITH med AS (
          SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS med
          FROM events GROUP BY 1
        ),
        mad AS (
          SELECT e.event_type,
                 ROUND(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad,
                 ANY_VALUE(m.med) AS med
          FROM events e JOIN med m USING (event_type)
          GROUP BY 1
        )
        SELECT e.event_type, ANY_VALUE(s.med) AS med, ANY_VALUE(s.mad) AS mad,
               CAST(SUM(CASE WHEN abs(e.value - s.med) > 3 * s.mad
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
               COUNT(*) AS n_events
        FROM events e JOIN mad s USING (event_type)
        GROUP BY 1
    """,
}
