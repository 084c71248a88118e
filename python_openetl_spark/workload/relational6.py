"""Round-6 relational additions: recursive-hierarchy, bag set ops,
rank functions, windowed DISTINCT, and ANSI-safe try arithmetic.

- q69: parent-pointer hierarchy depth histogram via
  ``operators/hierarchy.py tree_depths`` — pointer doubling
  (``log2(depth)`` self-joins) instead of the per-level iteration a
  recursive CTE executes. The synthetic hierarchy is the ternary tree
  ``parent = doc_id DIV 3`` over the documents table, so the oracle is
  a genuine DuckDB ``WITH RECURSIVE``.
- q70: bag-semantics set operations (``EXCEPT ALL`` /
  ``INTERSECT ALL``) — multiset counts subtract/min, a different
  engine path (Spark ``exceptAll``/``intersectAll``) from q07's
  DISTINCT set ops.
- q71: ``dense_rank`` / ``percent_rank`` / ``cume_dist`` per nation —
  the rank-function family q05/q47 (row_number, frames) left
  uncovered. Tiebreak on c_custkey makes every rank deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_openetl_spark.workload.util import t


def q69_hierarchy_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roots are defined structurally — doc 0, plus any doc whose
    parent id is ABSENT from the table — so a fixture regeneration
    with id gaps or subset sampling keeps both engines on identical
    semantics (every doc gets exactly one depth; a broken chain makes
    its head a depth-0 root). Negative ids are excluded up front:
    integer division near zero truncates on Spark but floors in
    DuckDB, so they cannot participate in the parent function."""
    from python_openetl_spark.operators.hierarchy import tree_depths

    docs = t(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") >= 0)
    cand = docs.filter(F.col("doc_id") > 0).select(
        F.col("doc_id").alias("node"),
        F.expr("doc_id DIV 3").alias("parent"),
    )
    parents = docs.select(F.col("doc_id").alias("parent"))
    edges = cand.join(parents, "parent", "left_semi")
    roots = docs.filter(F.col("doc_id") == 0).unionByName(
        cand.join(parents, "parent", "left_anti").select(F.col("node").alias("doc_id"))
    )
    with_root = tree_depths(edges).select("depth").unionByName(
        roots.select(F.lit(0).cast("long").alias("depth"))
    )
    return (
        with_root.groupBy("depth")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("depth")
    )


def q70_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "N").select("l_partkey")
    b = li.filter(F.col("l_linestatus") == "F").select("l_partkey")
    ex = (
        a.exceptAll(b)
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except").alias("op"), "l_partkey", "n")
    )
    it = (
        a.intersectAll(b)
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect").alias("op"), "l_partkey", "n")
    )
    return ex.unionByName(it)


def q71_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    # floor-scale instead of ROUND: prank/cdist are exact rationals
    # (k/n) whose doubles are bit-identical on both engines, but ROUND
    # at a decimal tie diverges (Spark rounds the shortest decimal
    # repr half-up; DuckDB rounds the binary value) — floor of the
    # identical product is engine-stable
    def f6(col):
        return F.floor(col * F.lit(1_000_000.0)) / F.lit(1_000_000.0)

    return c.select(
        "c_custkey",
        "c_nationkey",
        F.dense_rank().over(w).alias("drank"),
        f6(F.percent_rank().over(w)).alias("prank"),
        f6(F.cume_dist().over(w)).alias("cdist"),
    )


def q72_windowed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT aggregate inside a window frame — a real engine-surface
    gap: Spark's WindowExec rejects ``count(DISTINCT)`` outright, so
    the idiomatic translation is ``size(array_distinct(collect_list))``
    over the same frame (state bounded by the 10-row frame, partitioned
    by user — never a global window). DuckDB states the semantics with
    its native windowed DISTINCT aggregate."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.size(F.array_distinct(F.collect_list("event_type").over(w))).alias(
            "distinct_types_10"
        ),
    )


def q73_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode-safe arithmetic surface: under Spark 4's default ANSI
    mode, division by zero, bad casts, and long overflow are runtime
    ERRORS — the ``try_*`` family turns them into NULLs, which is what
    a pipeline over dirty data needs. The oracle states the identical
    NULL semantics with DuckDB's TRY_CAST / NULLIF / a CASE for the
    overflow row (DuckDB has no try_add)."""
    o = t(spark, sf_dir, "orders")
    big = 9_223_372_036_854_775_807
    return o.select(
        "o_orderkey",
        F.try_divide(F.col("o_totalprice"), (F.col("o_orderkey") % 3).cast("double")).alias(
            "price_per_bucket"
        ),
        F.col("o_orderstatus").try_cast("int").alias("status_as_int"),
        F.try_add(F.lit(big), F.col("o_orderkey")).alias("overflowing_add"),
    )



def q74_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtree aggregation over the q69 parent-pointer forest — the
    BOM-explosion / org-chart rollup SQL states as WITH RECURSIVE
    feeding a GROUP BY. operators/hierarchy.py subtree_rollup builds
    the ancestor closure in log2(depth) repeated-squaring self-joins
    (5 shuffles for a 30-deep hierarchy over 10^9 rows, vs 30 for
    per-level recursion), unions the self-pairs, and aggregates on the
    ancestor side — every doc reports its subtree size and an exact
    id checksum (bigint sums, engine-exact). Same structural-roots /
    id-gap semantics as q69; negative ids excluded for the DIV/floor
    divergence (see q69)."""
    from python_openetl_spark.operators.hierarchy import subtree_rollup

    docs = t(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") >= 0)
    cand = docs.filter(F.col("doc_id") > 0).select(
        F.col("doc_id").alias("node"),
        F.expr("doc_id DIV 3").alias("parent"),
    )
    parents = docs.select(F.col("doc_id").alias("parent"))
    edges = cand.join(parents, "parent", "left_semi")
    return subtree_rollup(
        edges,
        docs,
        [
            F.count(F.lit(1)).alias("n_subtree"),
            F.sum("doc_id").alias("id_checksum"),
        ],
        id_col="doc_id",
    )


def q75_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT surface (Spark 4's native path for JSON
    columns, replacing per-access string re-parsing): ``props`` parses
    ONCE into a VariantType value (binary-encoded, predicate-friendly)
    and typed fields shred out with ``try_variant_get`` — malformed
    documents, empty strings, JSON nulls, and type-mismatched fields
    all become NULL instead of errors. The oracle states identical
    semantics with DuckDB's JSON functions (NULLIF + TRY_CAST);
    alignment on all the hostile props shapes is pinned by the
    hostile-star suite. At scale the shred is a pure scan projection
    (no shuffle until the rollup), and parse-once matters: the q13
    string path re-parses per extraction."""
    ev = t(spark, sf_dir, "events")
    v = ev.select(
        "user_id", F.try_parse_json(F.col("props")).alias("v")
    ).select(
        "user_id",
        F.try_variant_get(F.col("v"), "$.page", "string").alias("page"),
        F.try_variant_get(F.col("v"), "$.ms", "int").alias("ms"),
    )
    return v.groupBy("page").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("ms").alias("n_with_ms"),
        F.sum("ms").cast("bigint").alias("ms_total"),
        F.countDistinct("user_id").alias("n_users"),
    )


def q76_locf_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward gap repair — the IGNORE NULLS
    window surface (q63 generates missing rows; this fills missing
    VALUES): every 7th reading is nulled out, then
    ``last(value, ignorenulls=True)`` over the per-user running frame
    carries the previous real observation forward (a user whose first
    readings are NULL stays NULL — nothing to carry). Pure copy
    semantics, no float arithmetic, so values hash exactly; DuckDB
    states it with ``LAST_VALUE(v IGNORE NULLS)``. Partitioned by
    user_id — never a global window."""
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(F.col("value")).alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.col("v").alias("observed"),
        F.last("v", ignorenulls=True).over(w).alias("filled"),
    )


QUERIES = {
    "q69_hierarchy_depths": q69_hierarchy_depths,
    "q70_bag_set_ops": q70_bag_set_ops,
    "q71_rank_functions": q71_rank_functions,
    "q72_windowed_distinct": q72_windowed_distinct,
    "q73_try_arithmetic": q73_try_arithmetic,
    "q74_subtree_rollup": q74_subtree_rollup,
    "q75_variant_shred": q75_variant_shred,
    "q76_locf_forward_fill": q76_locf_forward_fill,
}

ORACLE = {
    "q76_locf_forward_fill": """
        WITH src AS (
          SELECT event_id, user_id, ts,
                 CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
          FROM events
        )
        SELECT event_id, user_id, v AS observed,
               LAST_VALUE(v IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        FROM src
    """,
    "q75_variant_shred": """
        WITH shred AS (
          -- json_valid guard (the q13 idiom, r7 advice): DuckDB's
          -- json_extract_string ERRORS on malformed JSON where Spark's
          -- try_parse_json degrades to NULL — a fixture regen planting
          -- bad props must degrade identically on both engines
          SELECT user_id,
                 CASE WHEN json_valid(props)
                      THEN json_extract_string(props, '$.page') END AS page,
                 TRY_CAST(CASE WHEN json_valid(props)
                               THEN json_extract_string(props, '$.ms') END
                          AS INT) AS ms
          FROM events
        )
        SELECT page, COUNT(*) AS n_events,
               COUNT(ms) AS n_with_ms,
               SUM(ms)::BIGINT AS ms_total,
               COUNT(DISTINCT user_id) AS n_users
        FROM shred GROUP BY page
    """,
    "q74_subtree_rollup": """
        WITH RECURSIVE ids AS (
          SELECT doc_id FROM documents WHERE doc_id >= 0
        ),
        edges AS (
          SELECT c.doc_id AS node, c.doc_id // 3 AS parent
          FROM ids c
          WHERE c.doc_id > 0
            AND EXISTS (SELECT 1 FROM ids p WHERE p.doc_id = c.doc_id // 3)
        ),
        anc AS (
          SELECT node, parent AS anc FROM edges
          UNION
          SELECT a.node, e.parent FROM anc a JOIN edges e ON a.anc = e.node
        ),
        pairs AS (
          SELECT node AS descd, anc AS node FROM anc
          UNION ALL
          SELECT doc_id, doc_id FROM ids
        )
        SELECT node AS doc_id, COUNT(*)::BIGINT AS n_subtree,
               SUM(descd)::BIGINT AS id_checksum
        FROM pairs GROUP BY node
    """,
    "q73_try_arithmetic": """
        SELECT o_orderkey,
               o_totalprice / NULLIF((o_orderkey % 3)::DOUBLE, 0.0) AS price_per_bucket,
               TRY_CAST(o_orderstatus AS INT) AS status_as_int,
               CASE WHEN o_orderkey <= 0 THEN 9223372036854775807 + o_orderkey
                    ELSE NULL END AS overflowing_add
        FROM orders
    """,
    "q72_windowed_distinct": """
        SELECT event_id, user_id,
               COUNT(DISTINCT event_type) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW
               )::INT AS distinct_types_10
        FROM events
    """,
    "q69_hierarchy_depths": """
        WITH RECURSIVE docs0 AS (SELECT doc_id FROM documents WHERE doc_id >= 0),
        d AS (
          SELECT doc_id, 0::BIGINT AS depth FROM docs0
          WHERE doc_id = 0
             OR (doc_id // 3) NOT IN (SELECT doc_id FROM docs0)
          UNION ALL
          SELECT c.doc_id, p.depth + 1 FROM docs0 c
          JOIN d p ON c.doc_id // 3 = p.doc_id
          WHERE c.doc_id > 0
        )
        SELECT depth, COUNT(*) AS n_docs FROM d GROUP BY depth ORDER BY depth
    """,
    "q70_bag_set_ops": """
        WITH a AS (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'N'),
             b AS (SELECT l_partkey FROM lineitem WHERE l_linestatus = 'F')
        SELECT 'except' AS op, l_partkey, COUNT(*) AS n
        FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY 2
        UNION ALL
        SELECT 'intersect' AS op, l_partkey, COUNT(*) AS n
        FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY 2
    """,
    "q71_rank_functions": """
        SELECT c_custkey, c_nationkey,
               DENSE_RANK() OVER w AS drank,
               FLOOR(PERCENT_RANK() OVER w * 1000000) / 1000000 AS prank,
               FLOOR(CUME_DIST() OVER w * 1000000) / 1000000 AS cdist
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey
                     ORDER BY c_acctbal DESC, c_custkey)
    """,
}

