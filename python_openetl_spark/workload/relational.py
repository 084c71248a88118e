"""Relational query surface (SURVEY §2.1 R1-R15 generalized + §2.3 core).

The reference's relational semantics live in SQL strings pushed to
Postgres (projection/filter/sort: `/root/reference/pyopenetl/operations.py:49,
272-281,381-392,539-540,557`) plus client-side set ops (`:562-574`).
Here each becomes a first-class declarative DataFrame query that
Catalyst optimizes: filters/projections reach the parquet scan
(PushedFilters/ReadSchema), dimension joins are broadcast, aggregates
are partial (map-side) before the shuffle.

Every query has a DuckDB oracle in ``ORACLE`` with identical output
column names (driver hash-compares after sorting columns by name).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from python_openetl_spark.workload.util import davg, dsum, t


# --- R1/R11/R12: full scan + projection --------------------------------------
def q00_full_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT * full-table scan (reference S1, operations.py:39-51)."""
    return t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")


# --- group-by aggregation with exact decimal sums -----------------------------
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: filter → partial agg → shuffle on
    2 low-cardinality keys. Decimal-cast sums are order-independent, so
    the result is stable under any partitioning (and matches the oracle
    bit-for-bit)."""
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp_ltz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", 2).alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity", 2).alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --- R5: temporal sliding-window filter (the incremental-read predicate) ------
def q02_delta_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`WHERE updated_at >= NOW() - INTERVAL` (operations.py:539-540),
    restated with a fixed anchor so the oracle agrees. Pure pushed-down
    range filter — no shuffle."""
    ev = t(spark, sf_dir, "events")
    anchor = F.lit("2024-01-28 00:00:00").cast("timestamp")
    return ev.filter(F.col("ts") >= anchor - F.expr("INTERVAL 48 HOURS")).select(
        "event_id", "user_id", "event_type", "value"
    )


# --- join + agg + topk ---------------------------------------------------------
def q03_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue top-10: fact-fact join lineitem⋈orders (shuffle on orderkey),
    broadcast customer dim, deterministic top-k via (revenue desc, key)."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    rev = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(F.col("c_mktsegment") == "BUILDING")
        .join(rev, o.o_orderkey == rev.l_orderkey)
        .select(
            F.col("o_orderkey"),
            F.col("c_name"),
            F.col("revenue"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def q04_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: lineitem⋈orders⋈customer⋈nation⋈region with all dims
    broadcast — a single shuffle for the big-big join, zero for dims."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("line_count"),
        )
    )


# --- window functions ----------------------------------------------------------
def q05_top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number over (partition by customer order by totalprice desc, key)."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


def q06_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running decimal sum + lag per user over event time (frame:
    unbounded preceding → current row). Decimal accumulation keeps the
    running values exact and engine-independent."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(24,2)"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
        .alias("running_value"),
        F.lag("event_type", 1).over(w).alias("prev_event_type"),
        F.row_number().over(w).alias("seq"),
    )


# --- set operations (R9/R10 generalized) ---------------------------------------
def q07_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL: machinery-segment customers minus those with an open order."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    machinery = c.filter(F.col("c_mktsegment") == "MACHINERY").select(
        F.col("c_custkey").alias("custkey")
    )
    open_cust = (
        o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey")).distinct()
    )
    return machinery.exceptAll(open_cust)


def q08_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-distinct aggregation per group."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# --- semi/anti joins (R9 delete-propagation shape) ------------------------------
def q09_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join — the distributed restatement of the reference's
    client-side id-set difference (operations.py:556-574)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


def q10_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-style conditional aggregation (sum(case when ...))."""
    ev = t(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(24,2)")
    return ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", dec).otherwise(F.lit(0).cast("decimal(24,2)")))
        .cast("double")
        .alias("purchase_value"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("clicks"),
        F.max(F.when(F.col("event_type") == "error", F.col("value"))).alias("max_error_value"),
    )


# --- scalar functions (R13 generalized) -----------------------------------------
def q11_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function coverage: lower/upper/substr/replace/split/length/concat."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower(F.col("p_name")).alias("name_lower"),
        F.upper(F.col("p_type")).alias("type_upper"),
        F.length(F.col("p_name")).alias("name_len"),
        F.regexp_replace(F.col("p_brand"), "[^0-9]", "").cast("int").alias("brand_num"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.concat_ws("|", F.col("p_brand"), F.col("p_type")).alias("brand_type"),
        F.substring(F.col("p_name"), 1, 3).alias("name_prefix"),
    )


def q12_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar bucketing: events per day + decimal sum. The bucket is
    emitted as an ISO string so engines with different date/pandas
    bridges compare identically."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 2).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def q13_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar access on the jsonb-like `props` column
    (reference type map: jsonb, operations.py:252)."""
    ev = t(spark, sf_dir, "events")
    # try_cast: a regen could put non-numeric values at $.k, and ANSI
    # CAST would fail the whole scan; NULL-on-failure matches the
    # oracle's TRY_CAST (get_json_object itself is already NULL on
    # missing keys and malformed JSON)
    k = F.get_json_object("props", "$.k").try_cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
        F.count(F.when(k > 50, 1)).alias("n_high"),
    )


def q14_in_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 IN-list filter (operations.py:591-596), incl. the 1-element case."""
    li = t(spark, sf_dir, "lineitem")
    keys = [1, 2, 3, 5, 8, 13, 21, 34]
    return (
        li.filter(F.col("l_orderkey").isin(keys))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    )


def q15_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName + distinct over two heterogeneous key sources."""
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    a = c.select(F.col("c_nationkey").alias("nationkey"))
    b = s.select(F.col("s_nationkey").alias("nationkey"))
    return a.unionByName(b).distinct()


def q16_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping-set aggregation with subtotal/grand-total rows."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_quantity", 2).alias("qty"))
    )


def q17_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ... HAVING (post-aggregation filter)."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("total_spend"))
        .filter(F.col("n_orders") >= 3)
    )


def q18_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS through the engine's SQL path (spark.sql)."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment
        FROM v_customer c
        WHERE EXISTS (
          SELECT 1 FROM v_orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
        )
        """
    )


def q19_theta_join_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join: price-band classification via broadcast
    of a tiny bands table — a theta join that stays shuffle-free."""
    bands = spark.createDataFrame(
        [(0.0, 100_000.0, "low"), (100_000.0, 300_000.0, "mid"), (300_000.0, 1e12, "high")],
        "lo double, hi double, band string",
    )
    from python_openetl_spark.session import scan_parallelism

    # single-file source → repartition so the nested-loop probe uses all cores
    o = t(spark, sf_dir, "orders")
    o = o.repartition(scan_parallelism(o))
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
            "inner",
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("total"))
    )


def q20_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets: all subtotal combinations + grand total.
    grouping() flags disambiguate real NULL keys from subtotal rows."""
    li = t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_extendedprice").alias("price"),
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
    )


def q21_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS: (status, priority) + (status) + () — the
    general form behind rollup/cube, via the DataFrame API."""
    o = t(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        "o_orderstatus", "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total"),
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_prio"),
    )


def q22_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: one column per event type, decimal-summed value per day.
    The value list is explicit, so Spark skips the extra distinct-scan
    job and the plan is a single partial-agg → shuffle → final-agg."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(dsum("value", 2))
    )


def q23_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (percentile_cont semantics) of
    order value per market segment; rounded so both engines' linear
    interpolation compares stably."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    pct = F.percentile("o_totalprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(pct.getItem(0), 4).alias("p25"),
            F.round(pct.getItem(1), 4).alias("p50"),
            F.round(pct.getItem(2), 4).alias("p75"),
            F.round(F.min("o_totalprice"), 4).alias("lo"),
            F.round(F.max("o_totalprice"), 4).alias("hi"),
        )
    )


def q24_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the user's most recent click at or
    before it (operators/asof.py — union-merge shape: one shuffle on
    user_id, per-key sort, running last(); no quadratic range join)."""
    from python_openetl_spark.operators.asof import asof_join

    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_event_id")
    )
    joined = asof_join(purchases, clicks, on="ts", by="user_id", seq_col="click_event_id")
    return joined.select(
        "event_id",
        "user_id",
        F.col("asof_click_event_id").alias("click_event_id"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("asof_ts"))).alias("lag_micros"),
    )


def q25_lateral_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral 1→N expansion: posexplode of the tokenized document text
    (the generator/flat-map shape; runs inside codegen, no UDF)."""
    from python_openetl_spark.functions.text import tokens

    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    )


def q26_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (Catalyst decorrelates it into an
    aggregate + join): orders above 2x their customer's average."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM v_orders o
        WHERE o_totalprice > 2 * (
          SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(24,6))) AS DOUBLE) / COUNT(*)
          FROM v_orders i WHERE i.o_custkey = o.o_custkey
        )
        """
    )


def q27_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function coverage (R5/R11 generalized): truncation,
    field extraction, interval arithmetic, date difference."""
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd").alias("week_start"),
        F.date_format(F.date_trunc("month", F.col("ts")), "yyyy-MM-dd").alias("month_start"),
        F.year("ts").alias("yr"),
        F.month("ts").alias("mo"),
        (F.dayofweek("ts") - 1).alias("dow"),
        F.hour("ts").alias("hr"),
        F.datediff(F.lit("2024-06-01").cast("date"), F.to_date("ts")).alias("days_to_jun1"),
        F.date_format(F.col("ts") + F.expr("INTERVAL 90 MINUTES"), "yyyy-MM-dd HH:mm:ss").alias("plus90m"),
    )


def q28_approx_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based aggregation (the 100 TB tier of q08/q23):
    HyperLogLog++ distinct counts and quantile-sketch percentiles — one
    pass, bounded memory, mergeable across partitions. Sketch values
    are engine-internal, so the hash-checked output is the guarantee
    the sketches give: exact anchors (COUNT, COUNT DISTINCT — value-
    matched against the oracle) plus tolerance booleans computed
    against exact in-plan answers (HLL within its rsd envelope; each
    approx percentile inside the exact [q-0.01, q+0.01] continuous-
    quantile window — 100x the sketch's 1e-4 rank-error bound)."""
    o = t(spark, sf_dir, "orders")
    ap = F.percentile_approx("o_totalprice", [0.25, 0.5, 0.75], 10_000)
    ep = F.percentile(
        F.col("o_totalprice"),
        F.array(*[F.lit(x) for x in (0.24, 0.26, 0.49, 0.51, 0.74, 0.76)]),
    )
    agg = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count_distinct("o_custkey").alias("exact_customers"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("__andv"),
        ap.alias("__ap"),
        ep.alias("__ep"),
    )
    def _band(i: int):
        # the ±0.01-quantile acceptance window is only wider than the
        # data's discreteness when the group is large; for tiny groups
        # (possible after a fixture regen — hostile-star finding) the
        # sketch answers an actual element that can legitimately sit
        # outside the continuous band, so the check gates on group size
        a = F.col("__ap").getItem(i)
        in_band = (a >= F.col("__ep").getItem(2 * i)) & (
            a <= F.col("__ep").getItem(2 * i + 1)
        )
        return (F.col("n_orders") < 100) | in_band
    return agg.select(
        "o_orderstatus",
        "n_orders",
        "exact_customers",
        (
            F.abs(F.col("__andv") - F.col("exact_customers"))
            <= F.lit(0.05) * F.col("exact_customers")
        ).alias("ndv_ok"),
        _band(0).alias("p25_ok"),
        _band(1).alias("p50_ok"),
        _band(2).alias("p75_ok"),
    )


def q29_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via clamped floor arithmetic (identical
    double expressions on both engines — no width_bucket dependency).
    One partial-agg shuffle on ≤ n_buckets keys."""
    o = t(spark, sf_dir, "orders")
    lo, hi, nb = 0.0, 500_000.0, 10
    w = (hi - lo) / nb
    bucket = F.least(
        F.greatest(F.floor((F.col("o_totalprice") - F.lit(lo)) / F.lit(w)), F.lit(0)),
        F.lit(nb - 1),
    ).cast("int")
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total"),
    )


def q30_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue flow between two nation pairs by year.
    Six-table join — supplier-side AND customer-side nation lookups (the
    same dim broadcast twice under different aliases); Catalyst orders
    the join tree, both nation/customer/supplier dims broadcast, the
    lineitem⋈orders fact join is the only shuffle."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


def q31_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's yearly revenue —
    conditional decimal sum over total decimal sum (exact ratio
    numerator/denominator, double division only at the end)."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    dec = vol.cast("decimal(24,6)")
    target = F.when(F.col("n_name") == "NATION_3", dec).otherwise(
        F.lit(0).cast("decimal(24,6)")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (F.sum(target).cast("double") / F.sum(dec).cast("double")).alias("mkt_share"),
            F.sum(dec).cast("double").alias("total_revenue"),
        )
    )


def q32_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (operators/profile.py): every column's null /
    distinct / numeric-range stats from one aggregation pass."""
    from python_openetl_spark.operators.profile import profile

    return profile(t(spark, sf_dir, "customer"))


def q33_binned_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q19 range join through the *shuffle* path
    (operators/rangejoin.py): bin-quantized equi-join + exact re-check —
    the plan that survives when both sides are too big to broadcast."""
    from python_openetl_spark.operators.rangejoin import binned_interval_join

    bands = spark.createDataFrame(
        [(0.0, 100_000.0, "low"), (100_000.0, 300_000.0, "mid"), (300_000.0, 600_000.0, "high")],
        "lo double, hi double, band string",
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    joined = binned_interval_join(
        o, bands, "o_totalprice", "lo", "hi", bin_width=50_000.0
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("total")
    )


def q34_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: order-count distribution over ALL customers —
    the filter lives in the left join's ON clause (not a WHERE), so
    zero-order customers survive into the c_count=0 bucket."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def q35_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: per finished order, the supplier holding the
    strictly-latest ship date among multi-supplier orders — correlated
    EXISTS (another supplier shipped on this order) and NOT EXISTS (any
    other supplier shipped later), as semi/anti joins that shuffle on
    the order key once each."""
    s = t(spark, sf_dir, "supplier")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    # Single lineitem aggregation instead of three scans (semi + anti):
    # a row waits iff no OTHER supplier on the order shipped strictly
    # later, i.e. l_shipdate >= max-over-other-suppliers. That max is
    # derivable from the per-order top-2 (supplier, max-shipdate) pairs
    # — one (order, supp) partial agg, one windowed rank over the small
    # per-supplier rollup, then a join back on the order key. Saves two
    # full lineitem shuffles vs the literal EXISTS/NOT-EXISTS plan.
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("ms")
    )
    wr = Window.partitionBy("l_orderkey").orderBy(F.col("ms").desc(), F.col("l_suppkey"))
    tops = (
        per_os.withColumn("rn", F.row_number().over(wr))
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.max(F.when(F.col("rn") == 1, F.struct("ms", "l_suppkey"))).alias("m1"),
            F.max(F.when(F.col("rn") == 2, F.struct("ms", "l_suppkey"))).alias("m2"),
        )
    )
    max_other = F.when(
        F.col("l_suppkey") != F.col("m1.l_suppkey"), F.col("m1.ms")
    ).otherwise(F.col("m2.ms"))
    cand = (
        li.join(tops, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("l_shipdate") >= max_other))
        .join(o.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"))
    )
    return (
        cand.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


def q36_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: rich-but-inactive customers per segment —
    scalar aggregate subquery (exact decimal average) as the threshold,
    anti join against orders, then a grouped rollup."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    positive = c.filter(F.col("c_acctbal") > 0)
    avg_bal = positive.agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(24,6)")).cast("double")
            / F.count("c_acctbal")
        ).alias("a")
    )
    rich = c.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("a"))
    inactive = rich.join(o, c.c_custkey == o.o_custkey, "left_anti")
    return (
        inactive.withColumn("segment_bucket", F.col("c_custkey") % 7)
        .groupBy("segment_bucket")
        .agg(F.count(F.lit(1)).alias("numcust"), dsum("c_acctbal").alias("totacctbal"))
    )


def q37_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): a session breaks after a
    30-minute silence — lag() marks boundaries, a running sum numbers the
    sessions, all inside ONE window partitioning (user_id); no extra
    shuffle between the two window passes or the final groupBy."""
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "value")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_sess = F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1).otherwise(0)
    sess = (
        ev.withColumn("new_sess", new_sess)
        .withColumn(
            "session_id",
            F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.unix_micros(F.min("ts")).alias("start_us"),
        F.unix_micros(F.max("ts")).alias("end_us"),
        dsum("value").alias("session_value"),
    )


def q38_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (unpivot/melt) + per-metric aggregate: the
    column-to-row transform a feature-store export needs."""
    li = t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "value",
    )
    return long.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("total")
    )


def q39_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer.
    lineitem filters on l_returnflag at the scan (pushed), shuffles once
    on orderkey against orders, once on custkey for the customer join —
    both sides large at scale, so no broadcast; nation broadcasts.
    Deterministic top-20 by (revenue desc, custkey)."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(o.filter(F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")),
              li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q40_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (no partsupp fixture → cost modeled from
    p_retailprice): profit per supplier-nation per year. lineitem joins
    part on partkey and supplier on suppkey — both shuffle joins at scale
    (AQE may downgrade to broadcast at small SF); nation broadcasts.
    Grouping keys are low-cardinality → map-side partial aggregation."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_type").isin("PROMO", "ECONOMY"))
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    o = t(spark, sf_dir, "orders")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(dsum(profit).alias("sum_profit"))
    )


def q41_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from line items well below their part's
    average order quantity. The per-part average is a partial-agg shuffle
    on partkey; the join back to lineitem reuses that same partkey
    partitioning (no extra exchange on the agg side). Brand filter is
    pushed to the part scan; part→lineitem is an equi join Catalyst/AQE
    sizes (broadcast at small SF, shuffle at scale)."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    avg_qty = li.groupBy("l_partkey").agg(
        (F.lit(0.5) * davg("l_quantity", 2)).alias("half_avg_qty")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(avg_qty, "l_partkey")
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg((dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


def q42_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold.
    One partial-agg shuffle on orderkey with an aggregate HAVING filter
    applied before the joins (shrinks the probe side to a handful of
    keys), then joins back to orders/customer. Deterministic top-100."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity", 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 270)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


def q43_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: equi join on partkey with an OR-of-ANDs residual
    predicate. The equi key keeps the join hash-based (no cartesian);
    the disjunction stays a post-join filter inside the same codegen
    stage. Per-branch quantity bounds are pushed to the lineitem scan
    as a single OR range predicate."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    joined = li.join(p, li.l_partkey == p.p_partkey)
    branch1 = (
        (F.col("p_brand") == "Brand#12") & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity").between(1, 11))
    )
    branch2 = (
        (F.col("p_brand") == "Brand#23") & (F.col("p_size").between(1, 25))
        & (F.col("l_quantity").between(10, 20))
    )
    branch3 = (
        (F.col("p_brand") == "Brand#34") & (F.col("p_size").between(1, 35))
        & (F.col("l_quantity").between(20, 30))
    )
    return joined.filter(branch1 | branch2 | branch3).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def q44_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share in a shipdate quarter. The
    date range is pushed to the lineitem scan; part joins on partkey
    (broadcast at small SF via AQE, shuffle at scale); both the CASE
    numerator and the denominator fold into ONE partial aggregate —
    a single pass, single shuffle of two decimal cells."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ltz"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp_ltz"))
        )
        .join(p, li.l_partkey == p.p_partkey)
        .agg((F.lit(100.0) * dsum(promo) / dsum(rev)).alias("promo_revenue_pct"))
    )


def q45_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with max revenue in a quarter.
    Per-supplier revenue is one partial-agg shuffle; the global max is a
    single-row aggregate broadcast back against it (no second scan of
    lineitem), then the supplier dim broadcasts. Exact decimal revenue
    makes the double equality join deterministic."""
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ltz"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp_ltz"))
        )
        .groupBy("l_suppkey")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue"))
    )
    top = rev.agg(F.max("total_revenue").alias("__mr"))
    return (
        rev.join(F.broadcast(top), rev.total_revenue == F.col("__mr"))
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q46_best_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (no partsupp fixture → supplier-part pairs
    synthesized as DISTINCT (l_partkey, l_suppkey) from lineitem): for
    each filtered part, the best-acctbal supplier within one region.
    The distinct is a map-side-combined shuffle on the pair; supplier/
    nation/region dims broadcast; the per-part argmax is a window
    row_number on the partkey partitioning the distinct already
    established — no extra exchange."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    ps = li.select(
        F.col("l_partkey").alias("ps_partkey"), F.col("l_suppkey").alias("ps_suppkey")
    ).distinct()
    eligible = (
        ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")), n.n_regionkey == r.r_regionkey)
    )
    parts = p.filter((F.col("p_size").between(10, 30)) & (F.col("p_type") == "STANDARD"))
    w = Window.partitionBy("p_partkey").orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
    return (
        eligible.join(F.broadcast(parts), eligible.ps_partkey == parts.p_partkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_partkey", "p_brand", "s_suppkey", "s_name", "n_name", "s_acctbal")
    )


def q47_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-frame variety over one (custkey) partitioning: ntile,
    percent_rank, first/last_value with explicit frames, a 3-row sliding
    average, and lead — all computed in a single window exchange+sort
    (every frame shares partition and order keys)."""
    o = t(spark, sf_dir, "orders")
    wo = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    grow = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    full = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    slide = wo.rowsBetween(-2, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(wo).alias("quartile"),
        F.round(F.percent_rank().over(wo), 6).alias("pct_rank"),
        F.first("o_totalprice").over(grow).alias("first_price"),
        F.last("o_totalprice").over(full).alias("last_price"),
        F.round(F.avg("o_totalprice").over(slide), 4).alias("avg3_price"),
        F.lead("o_orderkey", 1).over(wo).alias("next_orderkey"),
    )


def q48_stats_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (corr / sample stddev / sample covariance)
    per market segment — single shuffle on the low-cardinality segment
    key after a broadcast customer join; all moments merge partially
    map-side. Rounded: moment merges are order-sensitive in the last
    ulps under distribution."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    # corr written as covar/(sx*sy) with try_divide: Spark's corr
    # aggregate raises ANSI DIVIDE_BY_ZERO on a zero-variance group
    # (hostile-star finding) where this form — and DuckDB — yield NULL
    corr = F.try_divide(
        F.covar_samp("o_totalprice", "c_acctbal"),
        F.stddev_samp("o_totalprice") * F.stddev_samp("c_acctbal"),
    )
    return j.groupBy("c_mktsegment").agg(
        F.round(corr, 6).alias("price_acctbal_corr"),
        F.round(F.stddev_samp("o_totalprice"), 2).alias("price_stddev"),
        F.round(F.covar_samp("o_totalprice", "c_acctbal") / F.lit(1e6), 4).alias("price_acctbal_covar_m"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def q49_argmax_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1-per-group via max_by/min_by aggregates — the scale
    replacement for window row_number + filter rn=1: the aggregate
    combines map-side, so the exchange carries ONE row per group
    instead of shipping every row to its window partition. The
    exact-decimal composite key (acctbal, custkey) makes ties
    deterministic across engines."""
    c = t(spark, sf_dir, "customer")
    key = F.col("c_acctbal").cast("decimal(18,2)") * F.lit(10_000_000) + F.col("c_custkey")
    return c.groupBy("c_nationkey").agg(
        F.max_by("c_name", key).alias("richest_customer"),
        F.min_by("c_name", key).alias("poorest_customer"),
        F.max("c_acctbal").alias("max_bal"),
        F.min("c_acctbal").alias("min_bal"),
        F.count(F.lit(1)).alias("n_customers"),
    )


def q51_asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with a tolerance bound: for each purchase, the
    user's EARLIEST click at-or-after it, dropped when more than one hour
    later — attribution-window semantics. Same single-shuffle union-merge
    dataflow as q24, traversed in descending time."""
    from python_openetl_spark.operators.asof import asof_join

    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_event_id")
    )
    joined = asof_join(
        purchases, clicks, on="ts", by="user_id", seq_col="click_event_id",
        direction="forward", tolerance=3600,
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("asof_click_event_id").alias("click_event_id"),
        (F.unix_micros(F.col("asof_ts")) - F.unix_micros(F.col("ts"))).alias("lead_micros"),
    )


def q50_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame over event time: per-user trailing-1-hour
    rolling sum/count. Range frames bound by *values*, not row offsets —
    deterministic under timestamp ties (the frame always includes every
    equal-ts row), so no unique tiebreak column is needed. One window
    exchange + sort on (user_id, epoch).

    The range key is integral MICROseconds on both engines: a
    seconds-truncated key manufactures ties between events that are
    milliseconds apart, silently pulling later same-second events into
    the trailing frame (sf0.1 soak finding — the oracle's fractional
    epoch had no such ties)."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(24,2)")).over(w).cast("double").alias("trailing_1h_value"),
        F.count(F.lit(1)).over(w).alias("n_in_window"),
    )


QUERIES = {
    "q50_time_range_frame": q50_time_range_frame,
    "q51_asof_forward_tolerance": q51_asof_forward_tolerance,
    "q10_conditional_agg": q10_conditional_agg,
    "q13_json_extract": q13_json_extract,
    "q28_approx_aggs": q28_approx_aggs,
    "q37_sessionize": q37_sessionize,
    "q00_full_scan": q00_full_scan,
    "q01_pricing_summary": q01_pricing_summary,
    "q02_delta_scan": q02_delta_scan,
    "q03_top_orders": q03_top_orders,
    "q04_revenue_by_nation": q04_revenue_by_nation,
    "q05_top_order_per_customer": q05_top_order_per_customer,
    "q06_running_total": q06_running_total,
    "q07_set_ops": q07_set_ops,
    "q08_distinct_counts": q08_distinct_counts,
    "q09_customers_without_orders": q09_customers_without_orders,
    "q11_string_functions": q11_string_functions,
    "q12_daily_rollup": q12_daily_rollup,
    "q14_in_list": q14_in_list,
    "q15_union_distinct": q15_union_distinct,
    "q16_rollup": q16_rollup,
    "q17_having": q17_having,
    "q18_exists_subquery": q18_exists_subquery,
    "q19_theta_join_ranges": q19_theta_join_ranges,
    "q20_cube": q20_cube,
    "q21_grouping_sets": q21_grouping_sets,
    "q22_pivot": q22_pivot,
    "q23_percentiles": q23_percentiles,
    "q24_asof_join": q24_asof_join,
    "q25_lateral_explode": q25_lateral_explode,
    "q26_scalar_subquery": q26_scalar_subquery,
    "q27_date_functions": q27_date_functions,
    "q29_histogram": q29_histogram,
    "q30_volume_shipping": q30_volume_shipping,
    "q31_market_share": q31_market_share,
    "q32_profile": q32_profile,
    "q33_binned_range_join": q33_binned_range_join,
    "q34_custdist": q34_custdist,
    "q35_waiting_supplier": q35_waiting_supplier,
    "q36_global_sales_opportunity": q36_global_sales_opportunity,
    "q38_unpivot": q38_unpivot,
    "q39_returned_item_revenue": q39_returned_item_revenue,
    "q40_profit_by_nation_year": q40_profit_by_nation_year,
    "q41_small_quantity_revenue": q41_small_quantity_revenue,
    "q42_large_volume_orders": q42_large_volume_orders,
    "q43_disjunctive_predicates": q43_disjunctive_predicates,
    "q44_promo_revenue": q44_promo_revenue,
    "q45_top_supplier": q45_top_supplier,
    "q46_best_supplier_per_part": q46_best_supplier_per_part,
    "q47_window_frames": q47_window_frames,
    "q48_stats_aggs": q48_stats_aggs,
    "q49_argmax_per_group": q49_argmax_per_group,
}

_PROFILE_COLS = (
    ("c_custkey", True),
    ("c_name", False),
    ("c_nationkey", True),
    ("c_acctbal", True),
    ("c_mktsegment", False),
)

_PROFILE_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
        COUNT(CASE WHEN {c} IS NULL THEN 1 END) AS n_nulls,
        COUNT(DISTINCT {c}) AS n_distinct,
        {f'CAST(MIN({c}) AS DOUBLE)' if num else 'NULL::DOUBLE'} AS min_value,
        {f'CAST(MAX({c}) AS DOUBLE)' if num else 'NULL::DOUBLE'} AS max_value
        FROM customer"""
    for c, num in _PROFILE_COLS
)

ORACLE = {
    "q00_full_scan": "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "q01_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(24,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,6))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS sum_disc_price,
               CAST(SUM(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(24,6))) AS DOUBLE) AS sum_charge,
               CAST(SUM(CAST(l_quantity AS DECIMAL(24,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,6))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q02_delta_scan": """
        SELECT event_id, user_id, event_type, value
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-28 00:00:00' - INTERVAL 48 HOURS
    """,
    "q03_top_orders": """
        WITH rev AS (
          SELECT l_orderkey,
                 CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue
          FROM lineitem GROUP BY l_orderkey
        )
        SELECT o_orderkey, c_name, revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN rev ON o_orderkey = rev.l_orderkey
        WHERE c_mktsegment = 'BUILDING'
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10
    """,
    "q04_revenue_by_nation": """
        SELECT r_name, n_name,
               CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
               COUNT(*) AS line_count
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    """,
    "q05_top_order_per_customer": """
        SELECT o_custkey, o_orderkey, o_totalprice
        FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders
        ) WHERE rn = 1
    """,
    "q06_running_total": """
        SELECT event_id, user_id,
               CAST(SUM(CAST(value AS DECIMAL(24,2))) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
               LAG(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
        FROM events
    """,
    "q07_set_ops": """
        SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
        EXCEPT ALL
        SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    "q08_distinct_counts": """
        SELECT o_orderstatus,
               COUNT(DISTINCT o_custkey) AS n_customers,
               COUNT(DISTINCT o_orderpriority) AS n_priorities,
               COUNT(*) AS n_orders
        FROM orders GROUP BY o_orderstatus
    """,
    "q09_customers_without_orders": """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "q10_conditional_agg": """
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN CAST(value AS DECIMAL(24,2))
                             ELSE CAST(0 AS DECIMAL(24,2)) END) AS DOUBLE) AS purchase_value,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
               MAX(CASE WHEN event_type = 'error' THEN value END) AS max_error_value
        FROM events GROUP BY user_id
    """,
    "q11_string_functions": """
        SELECT p_partkey,
               LOWER(p_name) AS name_lower,
               UPPER(p_type) AS type_upper,
               LENGTH(p_name) AS name_len,
               CAST(REGEXP_REPLACE(p_brand, '[^0-9]', '', 'g') AS INT) AS brand_num,
               STR_SPLIT(p_name, ' ')[1] AS first_word,
               p_brand || '|' || p_type AS brand_type,
               SUBSTRING(p_name, 1, 3) AS name_prefix
        FROM part
    """,
    "q12_daily_rollup": """
        SELECT STRFTIME(ts, '%Y-%m-%d') AS day,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(24,2))) AS DOUBLE) AS total_value,
               COUNT(DISTINCT user_id) AS n_users
        FROM events GROUP BY 1
    """,
    "q13_json_extract": """
        WITH kx AS (
          -- json_valid guard: DuckDB's json_extract_string ERRORS on
          -- malformed JSON (e.g. an empty string) where Spark's
          -- get_json_object returns NULL; TRY_CAST mirrors try_cast
          SELECT event_type,
                 TRY_CAST(CASE WHEN json_valid(props)
                               THEN json_extract_string(props, '$.k') END
                          AS BIGINT) AS k
          FROM events
        )
        SELECT event_type,
               CAST(SUM(k) AS BIGINT) AS sum_k,
               MAX(k) AS max_k,
               COUNT(CASE WHEN k > 50 THEN 1 END) AS n_high
        FROM kx GROUP BY event_type
    """,
    "q14_in_list": """
        SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        FROM lineitem WHERE l_orderkey IN (1,2,3,5,8,13,21,34)
    """,
    "q15_union_distinct": """
        SELECT DISTINCT nationkey FROM (
          SELECT c_nationkey AS nationkey FROM customer
          UNION ALL
          SELECT s_nationkey AS nationkey FROM supplier
        )
    """,
    "q16_rollup": """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(24,2))) AS DOUBLE) AS qty
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "q17_having": """
        SELECT o_custkey, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS total_spend
        FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 3
    """,
    "q18_exists_subquery": """
        SELECT c_custkey, c_mktsegment
        FROM customer c
        WHERE EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
        )
    """,
    "q19_theta_join_ranges": """
        WITH bands(lo, hi, band) AS (
          VALUES (0.0, 100000.0, 'low'), (100000.0, 300000.0, 'mid'), (300000.0, 1e12, 'high')
        )
        SELECT band, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS total
        FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
        GROUP BY band
    """,
    "q20_cube": """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,6))) AS DOUBLE) AS price,
               CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS INT) AS g_status
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "q21_grouping_sets": """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS total,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
    "q22_pivot": """
        SELECT STRFTIME(ts, '%Y-%m-%d') AS day,
               CAST(SUM(CASE WHEN event_type = 'click'    THEN CAST(value AS DECIMAL(24,2)) END) AS DOUBLE) AS click,
               CAST(SUM(CASE WHEN event_type = 'error'    THEN CAST(value AS DECIMAL(24,2)) END) AS DOUBLE) AS error,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(24,2)) END) AS DOUBLE) AS purchase,
               CAST(SUM(CASE WHEN event_type = 'signup'   THEN CAST(value AS DECIMAL(24,2)) END) AS DOUBLE) AS signup,
               CAST(SUM(CASE WHEN event_type = 'view'     THEN CAST(value AS DECIMAL(24,2)) END) AS DOUBLE) AS view
        FROM events GROUP BY 1
    """,
    "q23_percentiles": """
        SELECT c_mktsegment,
               ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
               ROUND(quantile_cont(o_totalprice, 0.50), 4) AS p50,
               ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75,
               ROUND(MIN(o_totalprice), 4) AS lo,
               ROUND(MAX(o_totalprice), 4) AS hi
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    "q24_asof_join": """
        WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
             c AS (SELECT event_id AS click_event_id, user_id, ts FROM events WHERE event_type = 'click')
        SELECT event_id, user_id, click_event_id, lag_micros FROM (
          SELECT p.event_id, p.user_id, c.click_event_id,
                 epoch_us(p.ts) - epoch_us(c.ts) AS lag_micros,
                 ROW_NUMBER() OVER (PARTITION BY p.event_id
                                    ORDER BY c.ts DESC NULLS LAST, c.click_event_id DESC NULLS LAST) AS rn
          FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
        ) WHERE rn = 1
    """,
    "q25_lateral_explode": """
        WITH tk AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
          FROM documents
        )
        SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(toks) + 1),
                                       i -> {'pos': i - 1, 'tok': toks[i]})) AS u
          FROM tk
        )
    """,
    "q26_scalar_subquery": """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders o
        WHERE o_totalprice > 2 * (
          SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(24,6))) AS DOUBLE) / COUNT(*)
          FROM orders i WHERE i.o_custkey = o.o_custkey
        )
    """,
    "q27_date_functions": """
        SELECT event_id,
               STRFTIME(date_trunc('week', ts), '%Y-%m-%d') AS week_start,
               STRFTIME(date_trunc('month', ts), '%Y-%m-%d') AS month_start,
               CAST(year(ts) AS INT) AS yr,
               CAST(month(ts) AS INT) AS mo,
               CAST(dayofweek(ts) AS INT) AS dow,
               CAST(hour(ts) AS INT) AS hr,
               CAST(date_diff('day', CAST(ts AS DATE), DATE '2024-06-01') AS INT) AS days_to_jun1,
               STRFTIME(ts + INTERVAL 90 MINUTE, '%Y-%m-%d %H:%M:%S') AS plus90m
        FROM events
    """,
    "q28_approx_aggs": """
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               COUNT(DISTINCT o_custkey) AS exact_customers,
               TRUE AS ndv_ok,
               TRUE AS p25_ok,
               TRUE AS p50_ok,
               TRUE AS p75_ok
        FROM orders GROUP BY 1
    """,
    "q29_histogram": """
        SELECT CAST(LEAST(GREATEST(FLOOR((o_totalprice - 0.0) / 50000.0), 0), 9) AS INT) AS bucket,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS total
        FROM orders
        GROUP BY 1
    """,
    "q30_volume_shipping": """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        GROUP BY 1, 2, 3
    """,
    "q37_sessionize": """
        WITH g AS (
          SELECT user_id, ts, value,
                 epoch_us(ts) - LAG(epoch_us(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, value) AS gap_us
          FROM events
        ),
        s AS (
          SELECT user_id, ts, value,
                 SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, value
                         ROWS UNBOUNDED PRECEDING) AS session_id
          FROM g
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
               epoch_us(MIN(ts)) AS start_us, epoch_us(MAX(ts)) AS end_us,
               CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS session_value
        FROM s GROUP BY user_id, session_id
    """,
    "q38_unpivot": """
        SELECT metric, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS total
        FROM (
          SELECT 'l_quantity' AS metric, l_quantity AS value FROM lineitem
          UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
          UNION ALL SELECT 'l_discount', l_discount FROM lineitem
          UNION ALL SELECT 'l_tax', l_tax FROM lineitem
        ) GROUP BY metric
    """,
    "q34_custdist": """
        SELECT c_count, COUNT(*) AS custdist FROM (
          SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey
        ) GROUP BY c_count
    """,
    "q35_waiting_supplier": """
        SELECT s_name, COUNT(*) AS numwait
        FROM supplier, lineitem l1, orders
        WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
          AND o_orderstatus = 'F'
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > l1.l_shipdate)
        GROUP BY s_name
    """,
    "q36_global_sales_opportunity": """
        SELECT c_custkey % 7 AS segment_bucket, COUNT(*) AS numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(24,6))) AS DOUBLE) AS totacctbal
        FROM customer
        WHERE c_acctbal > (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(24,6))) AS DOUBLE) / COUNT(c_acctbal)
            FROM customer WHERE c_acctbal > 0
          )
          AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_custkey % 7
    """,
    "q32_profile": _PROFILE_SQL,
    "q33_binned_range_join": """
        WITH bands(lo, hi, band) AS (
          VALUES (0.0, 100000.0, 'low'), (100000.0, 300000.0, 'mid'),
                 (300000.0, 600000.0, 'high')
        )
        SELECT band, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS total
        FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
        GROUP BY band
    """,
    "q31_market_share": """
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(SUM(CASE WHEN n_name = 'NATION_3'
                             THEN CAST(l_extendedprice*(1-l_discount) AS DECIMAL(24,6))
                             ELSE CAST(0 AS DECIMAL(24,6)) END) AS DOUBLE)
                 / CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS mkt_share,
               CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS total_revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY 1
    """,
    "q39_returned_item_revenue": """
        SELECT c_custkey, c_name, n_name,
               CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1997-01-01'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
    "q40_profit_by_nation_year": """
        SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(SUM(CAST(l_extendedprice*(1-l_discount)
                             - 0.6*p_retailprice*l_quantity AS DECIMAL(24,6))) AS DOUBLE) AS sum_profit
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN orders   ON l_orderkey = o_orderkey
        WHERE p_type IN ('PROMO', 'ECONOMY')
        GROUP BY n_name, year(o_orderdate)
    """,
    "q41_small_quantity_revenue": """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,6))) AS DOUBLE) / 7.0 AS avg_yearly
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN (
          SELECT l_partkey AS ap_partkey,
                 0.5 * (CAST(SUM(CAST(l_quantity AS DECIMAL(24,2))) AS DOUBLE)
                        / COUNT(l_quantity)) AS half_avg_qty
          FROM lineitem GROUP BY l_partkey
        ) ON l_partkey = ap_partkey
        WHERE p_brand = 'Brand#13' AND l_quantity < half_avg_qty
    """,
    "q42_large_volume_orders": """
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
        FROM (
          SELECT l_orderkey,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(24,2))) AS DOUBLE) AS sum_qty
          FROM lineitem GROUP BY l_orderkey HAVING sum_qty > 270
        )
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
    "q43_disjunctive_predicates": """
        SELECT CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
    """,
    "q44_promo_revenue": """
        SELECT 100.0
               * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                                    THEN l_extendedprice*(1-l_discount)
                                    ELSE 0.0 END AS DECIMAL(24,6))) AS DOUBLE)
               / CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(24,6))) AS DOUBLE)
                 AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
    """,
    "q45_top_supplier": """
        WITH rev AS (
          SELECT l_suppkey,
                 CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
    "q46_best_supplier_per_part": """
        WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        SELECT p_partkey, p_brand, s_suppkey, s_name, n_name, s_acctbal FROM (
          SELECT p_partkey, p_brand, s_suppkey, s_name, n_name, s_acctbal,
                 ROW_NUMBER() OVER (PARTITION BY p_partkey
                                    ORDER BY s_acctbal DESC, s_suppkey) AS rn
          FROM ps
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation   ON s_nationkey = n_nationkey
          JOIN region   ON n_regionkey = r_regionkey
          JOIN part     ON l_partkey = p_partkey
          WHERE r_name = 'ASIA' AND p_size BETWEEN 10 AND 30 AND p_type = 'STANDARD'
        ) WHERE rn = 1
    """,
    "q47_window_frames": """
        SELECT o_custkey, o_orderkey,
               NTILE(4) OVER w AS quartile,
               ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
               FIRST_VALUE(o_totalprice) OVER
                 (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price,
               LAST_VALUE(o_totalprice) OVER
                 (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price,
               ROUND(AVG(o_totalprice) OVER
                 (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS avg3_price,
               LEAD(o_orderkey, 1) OVER w AS next_orderkey
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "q48_stats_aggs": """
        -- corr as covar/(sx*sy) with a NULLIF guard: same explicit form
        -- as the Spark side (whose corr aggregate would ANSI-crash on a
        -- zero-variance group), so parity is by construction
        SELECT c_mktsegment,
               ROUND(COVAR_SAMP(o_totalprice, c_acctbal)
                     / NULLIF(STDDEV_SAMP(o_totalprice) * STDDEV_SAMP(c_acctbal), 0),
                     6) AS price_acctbal_corr,
               ROUND(STDDEV_SAMP(o_totalprice), 2) AS price_stddev,
               ROUND(COVAR_SAMP(o_totalprice, c_acctbal) / 1e6, 4) AS price_acctbal_covar_m,
               COUNT(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    "q49_argmax_per_group": """
        SELECT c_nationkey,
               arg_max(c_name, c_acctbal::DECIMAL(18,2) * 10000000 + c_custkey) AS richest_customer,
               arg_min(c_name, c_acctbal::DECIMAL(18,2) * 10000000 + c_custkey) AS poorest_customer,
               MAX(c_acctbal) AS max_bal,
               MIN(c_acctbal) AS min_bal,
               COUNT(*) AS n_customers
        FROM customer GROUP BY c_nationkey
    """,
    "q50_time_range_frame": """
        SELECT event_id, user_id,
               CAST(SUM(CAST(value AS DECIMAL(24,2))) OVER w AS DOUBLE) AS trailing_1h_value,
               COUNT(*) OVER w AS n_in_window
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    "q51_asof_forward_tolerance": """
        WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
             c AS (SELECT event_id AS click_event_id, user_id, ts FROM events WHERE event_type = 'click')
        SELECT event_id, user_id,
               CASE WHEN lead_micros <= 3600000000 THEN click_event_id END AS click_event_id,
               CASE WHEN lead_micros <= 3600000000 THEN lead_micros END AS lead_micros
        FROM (
          SELECT p.event_id, p.user_id, c.click_event_id,
                 epoch_us(c.ts) - epoch_us(p.ts) AS lead_micros,
                 ROW_NUMBER() OVER (PARTITION BY p.event_id
                                    ORDER BY c.ts ASC NULLS LAST, c.click_event_id DESC NULLS LAST) AS rn
          FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts >= p.ts
        ) WHERE rn = 1
    """,
}
