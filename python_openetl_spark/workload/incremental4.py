"""Round-11 incremental-maintenance additions.

- m23: the end-to-end CDC → IVM composite (r10 verdict #6) — the two
  operators built for each other, finally wired: ``snapshot_diff``
  (m08's Debezium-style I/U/D feed with before-images) converted by
  ``cdc_to_counting_delta`` into ±mult rows and fed to
  ``maintain_join_view`` (m22's counting algorithm). The oracle
  recomputes the join view from the POST-CDC snapshots, so a wrong
  change tag, a lost before-image, a sign error, or a missing ΔA⋈ΔB
  cross term each breaks the hash.

Reference parity: this is the incremental story the reference's
sliding-window refresh (tmccall8829/python-openetl
operations.py:515-609) approximates — maintain derived data for the
price of the delta, exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_openetl_spark.operators.materialize import pin
from python_openetl_spark.workload.util import t

QUERIES: dict = {}
ORACLE: dict = {}


def _snapshots(spark: SparkSession, sf_dir: str):
    """Deterministic pre/post snapshots with all three change kinds on
    BOTH join sides. a: orders keyed by o_orderkey — old = keys %7≠0;
    new drops keys %5=1, inserts keys %14=0, updates priority to 'X'
    on keys %11=2. b: lineitem keyed by (o_orderkey, l_linenumber) —
    old = orderkeys %3≠0; new drops linenumber 2, inserts orderkeys
    %6=0, updates returnflag to 'Z' on linenumber 3."""
    a = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    a_old = a.filter(F.col("o_orderkey") % 7 != 0)
    a_new = a.filter(
        ((F.col("o_orderkey") % 7 != 0) & (F.col("o_orderkey") % 5 != 1))
        | (F.col("o_orderkey") % 14 == 0)
    ).withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 11 == 2, F.lit("X")).otherwise(
            F.col("o_orderpriority")
        ),
    )
    # (l_orderkey, l_linenumber) is NOT unique in the fixture —
    # snapshot_diff needs pk-unique snapshots (its full-outer join
    # would cross-product duplicate keys), so the b snapshot is the
    # per-(order, line) rollup: unique by construction, SQL-mirrorable
    # the rollup feeds b_old AND b_new, which between them appear in the
    # snapshot diff (both sides), the base view and a maintenance term —
    # four recomputations of the lineitem aggregation without this (r14)
    b = (
        t(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_orderkey").alias("o_orderkey"), F.col("l_linenumber")
        )
        .agg(F.max("l_returnflag").alias("l_returnflag"))
    )
    b = pin(b)
    b_old = b.filter(F.col("o_orderkey") % 3 != 0)
    b_new = b.filter(
        ((F.col("o_orderkey") % 3 != 0) & (F.col("l_linenumber") != 2))
        | (F.col("o_orderkey") % 6 == 0)
    ).withColumn(
        "l_returnflag",
        F.when(F.col("l_linenumber") == 3, F.lit("Z")).otherwise(
            F.col("l_returnflag")
        ),
    )
    return a_old, a_new, b_old, b_new


def m23_cdc_into_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC feeds IVM: diff the pre/post snapshots of each side into
    I/U/D feeds (one full-outer co-partitioned join per side, m08's
    operator), convert to counting deltas, and maintain the
    orders⋈lineitem view through the step — never re-joining the full
    tables. Equals the view recomputed from the post-CDC snapshots,
    row for row and count for count. Scale shape: two snapshot-diff
    joins (pk-partitioned), three delta-sized maintenance joins, one
    map-side-combinable count merge; the view stays distributed."""
    from python_openetl_spark.operators.ivm import (
        cdc_to_counting_delta,
        join_view,
        maintain_join_view,
    )
    from python_openetl_spark.operators.merge import snapshot_diff

    a_old, a_new, b_old, b_new = _snapshots(spark, sf_dir)
    cdc_a = snapshot_diff(a_old, a_new, "o_orderkey", include_old=True)
    cdc_b = snapshot_diff(
        b_old, b_new, ["o_orderkey", "l_linenumber"], include_old=True
    )
    delta_a = cdc_to_counting_delta(
        cdc_a, "o_orderkey", ["o_custkey", "o_orderpriority"]
    )
    delta_b = cdc_to_counting_delta(
        cdc_b, ["o_orderkey", "l_linenumber"], ["l_returnflag"]
    )
    view = join_view(a_old, b_old, "o_orderkey")
    return maintain_join_view(view, a_old, b_old, delta_a, delta_b, "o_orderkey")


QUERIES["m23_cdc_into_join_view"] = m23_cdc_into_join_view

ORACLE["m23_cdc_into_join_view"] = """
    WITH a_new AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 11 = 2 THEN 'X' ELSE o_orderpriority END
               AS o_orderpriority
      FROM orders
      WHERE (o_orderkey % 7 <> 0 AND o_orderkey % 5 <> 1)
         OR o_orderkey % 14 = 0
    ),
    b_base AS (
      SELECT l_orderkey AS o_orderkey, l_linenumber,
             MAX(l_returnflag) AS l_returnflag
      FROM lineitem GROUP BY 1, 2
    ),
    b_new AS (
      SELECT o_orderkey, l_linenumber,
             CASE WHEN l_linenumber = 3 THEN 'Z' ELSE l_returnflag END
               AS l_returnflag
      FROM b_base
      WHERE (o_orderkey % 3 <> 0 AND l_linenumber <> 2)
         OR o_orderkey % 6 = 0
    )
    SELECT a.o_orderkey, o_custkey, o_orderpriority,
           l_linenumber, l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS mult
    FROM a_new a JOIN b_new b USING (o_orderkey)
    GROUP BY ALL
"""
