"""Round-4 session-2 relational additions: mergeable-sketch analytics.

q58: HyperLogLog distinct-count via Spark's built-in Apache DataSketches
functions (``hll_sketch_agg`` / ``hll_union_agg`` /
``hll_sketch_estimate``). The 100 TB story is REAGGREGATION: per-
(nation, year) sketches are tiny fixed-size binaries that can be stored
with a rollup table and merged later to any coarser grain WITHOUT
rescanning the fact table — the d33 CMS linearity story, for distinct
counts. The driver-hashable contract is the x05/d33 invariant-boolean
pattern: exact distinct counts anchor the row values, and the sketch
estimate (merged across years) must land within the published HLL error
envelope — a broken sketch/merge path flips the boolean and
hash-mismatches, while legitimate approximation noise cannot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_openetl_spark.workload.util import t

#: 3-sigma envelope from HLL's published error bound
#: (operators/tuning.py hll_rel_tol: 3 * 1.04/sqrt(2^lgK) ~ 4.9% at the
#: default lgConfigK=12) — scale-free, so no retuning on fixture
#: regeneration. Per-row the envelope additionally floors at an
#: absolute 2-count slack (2/exact), because for tiny groups binomial
#: noise dominates the relative bound; both terms derive from counts,
#: never from the fixture generation.
from python_openetl_spark.operators.tuning import hll_rel_tol

_HLL_TOL = round(hll_rel_tol(), 6)


def q58_hll_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct ordering customers per nation, exact + sketch-merged.

    Plan shape: one fact shuffle for the (nation, year) sketch build
    (map-side partial sketch update — per-partition state is the
    sketch, not the rows), one tiny shuffle of 25·years sketch
    binaries for the union, and the nation dim broadcasts. The exact
    branch is the audit anchor only — at production scale you'd ship
    just the sketch branch.
    """
    o = t(spark, sf_dir, "orders").select(
        "o_custkey", F.year("o_orderdate").alias("yr")
    )
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    fact = o.join(c, o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    per_year = fact.groupBy("n_name", "yr").agg(
        F.hll_sketch_agg("o_custkey").alias("sk")
    )
    merged = per_year.groupBy("n_name").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = fact.groupBy("n_name").agg(
        F.count_distinct("o_custkey").alias("exact_customers")
    )
    return (
        exact.join(merged, "n_name")
        .select(
            "n_name",
            "exact_customers",
            (
                F.abs(F.col("est") - F.col("exact_customers").cast("double"))
                / F.col("exact_customers").cast("double")
                <= F.greatest(
                    F.lit(_HLL_TOL),
                    F.lit(2.0) / F.col("exact_customers").cast("double"),
                )
            ).alias("est_ok"),
        )
        .orderBy("n_name")
    )


def q59_approx_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate median per return flag via Spark's
    ``percentile_approx`` (GK-style rank sketch; partial sketches merge
    across partitions, which IS the distributed story — one pass, no
    sort). Driver contract: the exact interpolated median anchors the
    row (identical linear-interpolation formula on both engines,
    rounded to 6), and the sketch value must land inside the exact
    [0.45, 0.55] quantile envelope — far looser than the sketch's rank
    guarantee at accuracy 10000, so only a broken sketch/merge path can
    flip it. Groups under 20 rows pass trivially (the q28 discreteness
    gate): the sketch returns an ACTUAL element while the envelope
    interpolates, and below n=20 an even-sized group with a wide
    middle gap can contain NO element between the interpolated p45 and
    p55 (n=6 with middles 18/75: band [32.25, 60.75] is empty) — a
    data-shape artifact, not a sketch failure. From n≥20 the band is
    ≥2 rank positions wide, so it always contains the middle elements
    and the check is sharp at driver scale."""
    li = t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_median"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("qa"),
        F.expr("percentile(l_extendedprice, 0.45)").alias("lo"),
        F.expr("percentile(l_extendedprice, 0.55)").alias("hi"),
        # non-null count: percentile/percentile_approx ignore NULLs, so
        # the small-group gate must too (r11 advice — a group with >=20
        # rows but <20 non-null prices can still have an empty
        # interpolated [p45,p55] band)
        F.count("l_extendedprice").alias("__n"),
    )
    return agg.select(
        "l_returnflag",
        F.round("exact_median", 6).alias("exact_median"),
        (
            (F.col("__n") < 20)
            | ((F.col("qa") >= F.col("lo")) & (F.col("qa") <= F.col("hi")))
        ).alias("sketch_ok"),
    )


QUERIES = {
    "q58_hll_distinct_sketch": q58_hll_distinct_sketch,
    "q59_approx_quantile_sketch": q59_approx_quantile_sketch,
}

ORACLE = {
    # the estimate itself is approximate -> the oracle states the exact
    # anchors and the invariant (x05/d33 pattern)
    "q58_hll_distinct_sketch": """
        SELECT n_name,
               COUNT(DISTINCT o_custkey) AS exact_customers,
               TRUE AS est_ok
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY n_name
    """,
    "q59_approx_quantile_sketch": """
        SELECT l_returnflag,
               ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS exact_median,
               TRUE AS sketch_ok
        FROM lineitem GROUP BY l_returnflag
    """,
}
