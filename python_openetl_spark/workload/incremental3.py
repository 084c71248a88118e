"""Round-5 incremental additions, batch 2: bucketed co-located join as
a driver-checked verb.

- m17: the K5 index-replication scale story end-to-end — seed orders
  and customer as SAME-KEY bucketed catalog tables (plans/bucketed.py,
  external location in a temp dir so the process cwd stays clean),
  join them through ``colocated_join``, aggregate. The bucketed write
  is the ingest-time shuffle that every later join on the key skips;
  the zero-Exchange sort-merge plan property is asserted in
  tests/test_bucketed.py (with broadcast disabled — at fixture scale
  AQE correctly prefers a broadcast join, which is also shuffle-free).
  The oracle states the same join + aggregate over the raw tables, so
  a bucketed write that drops/duplicates rows hash-mismatches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_openetl_spark.operators.materialize import pin
from python_openetl_spark.workload.util import dsum, scratch, t


def m17_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_openetl_spark.plans.bucketed import colocated_join, seed_bucketed

    base = scratch("m17")
    orders = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice", "o_orderpriority"
    )
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    seed_bucketed(
        orders, "m17_orders", bucket_by="custkey", num_buckets=8,
        sort_by="custkey", path=base + "/orders",
    )
    seed_bucketed(
        cust, "m17_customer", bucket_by="custkey", num_buckets=8,
        sort_by="custkey", path=base + "/customer",
    )
    joined = colocated_join(spark, "m17_orders", "m17_customer", on="custkey")
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )


_CUTOFF = "2000-01-01"


def m18_cdc_rollup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance WITH retractions
    (operators/rollup.py apply_cdc_rollup over
    merge.snapshot_diff(include_old=True)): the per-status order
    rollup is maintained through a planted I/U/D wave where updates
    BOTH change the sum (price doubled) and MIGRATE rows to a new
    group (status flipped to 'X') — the oracle recomputes the rollup
    from the new snapshot, so the maintenance path must equal a full
    recompute bit-for-bit (sums kept in DECIMAL until the final
    cast)."""
    from python_openetl_spark.operators.merge import snapshot_diff
    from python_openetl_spark.operators.rollup import apply_cdc_rollup

    o = t(spark, sf_dir, "orders")
    cutoff = F.lit(_CUTOFF).cast("timestamp_ltz")
    old = o.filter(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    kept = (
        old.filter(F.col("o_orderkey") % 3 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") * 2
            ).otherwise(F.col("o_totalprice")),
        )
        .withColumn(
            "o_orderstatus",
            F.when(F.col("o_orderkey") % 5 == 0, F.lit("X")).otherwise(
                F.col("o_orderstatus")
            ),
        )
    )
    inserted = o.filter(F.col("o_orderdate") >= cutoff).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = kept.unionByName(inserted)
    cdc = snapshot_diff(old, new, "o_orderkey", include_old=True)
    rollup_old = old.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(24,6)")).alias("sum_o_totalprice"),
    )
    maintained = apply_cdc_rollup(
        rollup_old, cdc, ["o_orderstatus"], ["o_totalprice"]
    )
    return maintained.select(
        "o_orderstatus",
        "n_rows",
        F.col("sum_o_totalprice").cast("double").alias("revenue"),
    )


QUERIES = {
    "m17_bucketed_colocated_join": m17_bucketed_colocated_join,
    "m18_cdc_rollup_maintenance": m18_cdc_rollup_maintenance,
}

ORACLE = {
    "m17_bucketed_colocated_join": """
        SELECT c_mktsegment, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1
    """,
    # full recompute over the planted new snapshot: the maintenance
    # path (retract before-images, apply after-images) must equal it
    "m18_cdc_rollup_maintenance": f"""
        WITH old AS (
          SELECT o_orderkey, o_orderstatus, o_totalprice
          FROM orders WHERE o_orderdate < TIMESTAMP '{_CUTOFF}'
        ),
        kept AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 5 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
                 CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                      ELSE o_totalprice END AS o_totalprice
          FROM old WHERE o_orderkey % 3 <> 0
        ),
        ins AS (
          SELECT o_orderkey, o_orderstatus, o_totalprice
          FROM orders WHERE o_orderdate >= TIMESTAMP '{_CUTOFF}'
        ),
        new AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
        SELECT o_orderstatus, COUNT(*) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS revenue
        FROM new GROUP BY 1
    """,
}


def m21_versioned_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table CLONE with independent evolution (plans/versioned.py
    VersionedTable.clone — the Delta CLONE verb): a two-version source
    is deep-cloned AND shallow-cloned (zero-copy: the shallow clone's
    pointer borrows the source's version directories by absolute
    path), the DEEP clone then commits a third version (every 3rd
    key's value +1000), and the row checks the isolation matrix with
    exact decimal checksums: the evolved clone reflects the merge, the
    source and the shallow clone still read the ORIGINAL data and keep
    their two-version history, and all three histories have the
    expected lengths. A clone that shares mutable state with its
    source — or a commit that leaks across — flips a checksum or a
    version count."""
    from python_openetl_spark.plans.versioned import VersionedTable

    b0 = (
        t(spark, sf_dir, "events")
        .groupBy(F.col("event_id").alias("id"))
        .agg(
            F.sum(F.col("value").cast("decimal(24,6)")).cast("double").alias("v")
        )
    )
    # consumed three times (emptiness probe + both source commits):
    # pin the rollup so the events scan+aggregate runs once
    b0 = pin(b0)
    if not b0.take(1):
        return spark.createDataFrame(
            [],
            "src_versions int, clone_versions int, shallow_versions int, "
            "src_checksum double, clone_checksum double, shallow_checksum double",
        )
    base = scratch("m21")
    src = VersionedTable(base + "/src")
    src.commit(b0.filter(F.col("id") % 2 == 0))
    src.commit(b0)
    deep = src.clone(base + "/deep")
    shallow = src.clone(base + "/shallow", shallow=True)
    evolved = deep.read(spark).withColumn(
        "v",
        F.when(F.col("id") % 3 == 0, F.col("v") + F.lit(1000.0)).otherwise(
            F.col("v")
        ),
    )
    deep.commit(evolved)
    return (
        src.read(spark)
        .agg(dsum("v").alias("src_checksum"))
        .crossJoin(deep.read(spark).agg(dsum("v").alias("clone_checksum")))
        .crossJoin(shallow.read(spark).agg(dsum("v").alias("shallow_checksum")))
        .select(
            F.lit(len(src.versions())).cast("int").alias("src_versions"),
            F.lit(len(deep.versions())).cast("int").alias("clone_versions"),
            F.lit(len(shallow.versions())).cast("int").alias("shallow_versions"),
            "src_checksum",
            "clone_checksum",
            "shallow_checksum",
        )
    )


QUERIES["m21_versioned_clone"] = m21_versioned_clone

ORACLE["m21_versioned_clone"] = """
    WITH b0 AS (
      SELECT event_id AS id,
             CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS v
      FROM events GROUP BY event_id
    )
    SELECT 2 AS src_versions, 3 AS clone_versions, 2 AS shallow_versions,
           CAST(SUM(CAST(v AS DECIMAL(24,6))) AS DOUBLE) AS src_checksum,
           CAST(SUM(CAST(
             CASE WHEN id % 3 = 0 THEN v + 1000.0 ELSE v END
             AS DECIMAL(24,6))) AS DOUBLE) AS clone_checksum,
           CAST(SUM(CAST(v AS DECIMAL(24,6))) AS DOUBLE) AS shallow_checksum
    FROM b0
    HAVING COUNT(*) > 0
"""
