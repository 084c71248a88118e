"""Round-4 relational additions: the four TPC-H shapes the q-suite did
not yet cover, adapted to the fixture star schema (no partsupp table,
no commit/receipt dates — the join/subquery STRUCTURE is what each
query exercises).

Decimal rule per workload/__init__: money/quantity sums go through
exact DECIMAL and return DOUBLE; counts are BIGINT on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_openetl_spark.workload.util import t


def q54_order_priority_checking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS-driven per-priority order counts — a
    date-sliced fact scan semi-joined against a correlated child-table
    predicate (here: any line item shipped >90 days after the order
    date, standing in for Q4's commitdate<receiptdate lateness test).

    Plan shape: the semi join shuffles both sides on l_orderkey once
    (no duplicate-orders blowup — semi join short-circuits); the date
    filter prunes the orders scan before the shuffle.
    """
    o = t(spark, sf_dir, "orders")
    late = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    sel = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    joined = sel.join(
        late,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q55_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-fact join + dual conditional counts — line
    items shipped in 1997 classified by their order's priority
    (URGENT/HIGH vs rest), grouped by return flag (standing in for
    Q12's ship modes, absent from the fixture schema).

    Plan shape: one shuffle join on the order key (the l_shipdate
    filter prunes the big side first), then a map-side-combined
    aggregation on a 3-value key.
    """
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


def q56_supplier_cnt_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT-IN-excluded distinct-count rollup — how
    many distinct suppliers ship each (brand, size-bucket) of parts,
    excluding one brand, a name pattern, and suppliers with negative
    account balance (Q16's complaint-supplier NOT IN). The
    part-supplier bridge is the lineitem fact (the fixture has no
    partsupp).

    Plan shape: the NOT IN is a left-anti join against a tiny filtered
    supplier projection (broadcastable); countDistinct shuffles
    (brand, size, suppkey) triples, never raw rows.
    """
    bad_supp = (
        t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    )
    parts = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (~F.col("p_name").like("%bolt%"))
        & (F.col("p_size") <= 25)
    )
    bridge = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        bridge.join(
            F.broadcast(parts.select("p_partkey", "p_brand", "p_size")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(bad_supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_size")
    )


def q57_part_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: doubly-nested semi-join with a HAVING-gated
    inner aggregate — suppliers who shipped more than 250 units of
    'blue%'-named parts during 1996 (Q20's availqty>half-of-shipped
    test, re-anchored on shipped volume since the fixture lacks
    partsupp.availqty).

    Plan shape: the part filter broadcasts into a semi join that prunes
    lineitem BEFORE the per-supplier aggregate; the surviving supplier
    keys (tiny) broadcast into the final semi join — the supplier table
    itself never shuffles. The HAVING sum is exact DECIMAL, so the
    threshold comparison can't flip with partitioning.
    """
    blue = t(spark, sf_dir, "part").filter(F.col("p_name").like("blue%")).select("p_partkey")
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    big = (
        li.join(F.broadcast(blue), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(24,6)")).alias("__qty"))
        .filter(F.col("__qty") > 250)
        .select("l_suppkey")
    )
    return (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(big), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


QUERIES = {
    "q54_order_priority_checking": q54_order_priority_checking,
    "q55_priority_shipping": q55_priority_shipping,
    "q56_supplier_cnt_by_part": q56_supplier_cnt_by_part,
    "q57_part_promotion_suppliers": q57_part_promotion_suppliers,
}

ORACLE = {
    "q54_order_priority_checking": """
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate < TIMESTAMP '1996-10-01'
          AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
          )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "q55_priority_shipping": """
        SELECT l_returnflag,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    "q56_supplier_cnt_by_part": """
        SELECT p_brand, p_size,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#13'
          AND p_name NOT LIKE '%bolt%'
          AND p_size <= 25
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_size
    """,
    "q57_part_promotion_suppliers": """
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_suppkey IN (
          SELECT l_suppkey FROM lineitem
          WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'blue%')
            AND l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1997-01-01'
          GROUP BY l_suppkey
          HAVING SUM(CAST(l_quantity AS DECIMAL(24,6))) > 250
        )
        ORDER BY s_suppkey
    """,
}
