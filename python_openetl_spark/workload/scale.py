"""Round-2 scale-technique queries: the skew-mitigation operators
(operators/skew.py), driver-checkable.

Salting is a *physical* rewrite — the logical result is the plain
join / COUNT(DISTINCT), which is exactly what the DuckDB oracle
states. A green row here proves the salted dataflow is equivalent to
the unsalted semantics on real data, the same way s05/s06 prove the
streaming join plans through their batch twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_openetl_spark.operators.skew import salted_distinct_count, salted_join
from python_openetl_spark.workload.util import dsum, t


def q52_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events ⋈ customer on user_id with the skewed (fact) side salted:
    each hot user's rows spread across 8 salt buckets, the dimension
    replicated 8× through the shuffle. Logical result = plain inner
    join; aggregated to revenue per market segment."""
    ev = t(spark, sf_dir, "events").select("user_id", "value")
    dim = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(ev, dim, "user_id", how="inner", salt=8)
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .orderBy("c_mktsegment")
    )


def q53_salted_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof exact COUNT(DISTINCT user_id) per event type: shuffle
    on (event_type, hash(user) % 64) first, then sum the partial
    distinct counts — hot event types never concentrate on one task."""
    ev = t(spark, sf_dir, "events").select("event_type", "user_id")
    return salted_distinct_count(ev, "event_type", "user_id", salt=64).orderBy(
        "event_type"
    )


QUERIES = {
    "q52_salted_skew_join": q52_salted_skew_join,
    "q53_salted_distinct_users": q53_salted_distinct_users,
}

ORACLE = {
    "q52_salted_skew_join": """
        SELECT c.c_mktsegment,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(e.value AS DECIMAL(24,6))) AS DOUBLE) AS total_value
        FROM events e
        JOIN customer c ON c.c_custkey = e.user_id
        GROUP BY c.c_mktsegment
        ORDER BY c.c_mktsegment
    """,
    "q53_salted_distinct_users": """
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_user_id
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
}
