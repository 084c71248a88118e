"""Round-2 incremental-maintenance queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_openetl_spark.workload.incremental import _CUTOFF, _target
from python_openetl_spark.operators.materialize import pin
from python_openetl_spark.workload.util import scratch, t


def _new_snapshot(spark, sf_dir) -> DataFrame:
    """m08's 'moved-on' snapshot: drop pks %3==0, double price on %5==0,
    insert all post-cutoff orders."""
    old = _target(spark, sf_dir)
    o = t(spark, sf_dir, "orders")
    kept = old.filter(F.col("o_orderkey") % 3 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") * 2).otherwise(
            F.col("o_totalprice")
        ),
    )
    inserted = o.filter(F.col("o_orderdate") >= F.lit(_CUTOFF).cast("timestamp_ltz")).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    return kept.unionByName(inserted)


def m12_apply_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC round trip: produce the I/U/D feed between two snapshots
    (m08's exact setup) and APPLY it back to the old snapshot — the
    consumer half of the Debezium-style contract. The result must equal
    the new snapshot, which is what the oracle states directly."""
    from python_openetl_spark.operators.merge import apply_cdc, snapshot_diff

    old = _target(spark, sf_dir)
    new = _new_snapshot(spark, sf_dir)
    feed = snapshot_diff(old, new, "o_orderkey")
    return apply_cdc(old, feed, "o_orderkey")


QUERIES = {
    "m12_apply_cdc": m12_apply_cdc,
}

ORACLE = {
    "m12_apply_cdc": f"""
        WITH old AS (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
          FROM orders WHERE o_orderdate < TIMESTAMP '{_CUTOFF}'
        ),
        kept AS (
          SELECT o_orderkey, o_custkey, o_orderstatus,
                 CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                      ELSE o_totalprice END AS o_totalprice
          FROM old WHERE o_orderkey % 3 <> 0
        ),
        ins AS (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
          FROM orders WHERE o_orderdate >= TIMESTAMP '{_CUTOFF}'
        )
        SELECT * FROM kept UNION ALL SELECT * FROM ins
    """,
}


def m13_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with schema evolution (merge.merge_upsert
    evolve_schema=True): the delta carries a column the target never
    had (`priority_flag`); after the merge, updated/inserted rows carry
    it and untouched target rows read NULL — the add-a-column deploy
    without a backfill rewrite (Delta/Iceberg mergeSchema semantics on
    plain DataFrames)."""
    from python_openetl_spark.operators.merge import merge_upsert
    from python_openetl_spark.workload.incremental import _OVERLAP

    target = _target(spark, sf_dir)
    o = t(spark, sf_dir, "orders")
    delta = o.filter(F.col("o_orderdate") >= F.lit(_OVERLAP).cast("timestamp_ltz")).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        (F.col("o_orderkey") % 2 == 0).alias("priority_flag"),
    )
    return merge_upsert(target, delta, "o_orderkey", evolve_schema=True)


QUERIES["m13_schema_evolution_merge"] = m13_schema_evolution_merge

from python_openetl_spark.workload.incremental import _OVERLAP as _OV  # noqa: E402

ORACLE["m13_schema_evolution_merge"] = f"""
    WITH target AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderdate < TIMESTAMP '{_CUTOFF}'
    ),
    delta AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             o_totalprice * 2 AS o_totalprice,
             o_orderkey % 2 = 0 AS priority_flag
      FROM orders WHERE o_orderdate >= TIMESTAMP '{_OV}'
    )
    SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus, t.o_totalprice,
           CAST(NULL AS BOOLEAN) AS priority_flag
    FROM target t
    WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM delta)
    UNION ALL
    SELECT * FROM delta
"""


def m14_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ParquetTable.overwrite_where`` (Delta ``replaceWhere``
    semantics) end-to-end: publish a monthly revenue rollup partitioned
    by month, then atomically REPLACE one month's slice with a
    recomputed version (here: July 1996 rebuilt from finalized-status
    orders only, so the replacement genuinely differs from the
    original and a silent no-op path hash-mismatches). Every other
    month's rows must survive byte-identically; the oracle states the
    spliced final table."""
    from python_openetl_spark.plans.pipelines import ParquetTable

    o = t(spark, sf_dir, "orders")

    def rollup(df: DataFrame) -> DataFrame:
        # repartition on the partition column -> exactly one file per
        # month directory instead of one per (shuffle task x month);
        # for a rollup this small the write cost IS the file count
        return (
            df.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("o_month"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev_dec"),
            )
            .repartition("o_month")
        )

    table = ParquetTable(scratch("m14") + "/t")
    table.overwrite(rollup(o), partition_by=["o_month"])
    repl = rollup(
        o.filter(
            # month equality as a timestamp RANGE (identical under the
            # session's UTC zone to date_format == '1996-07', which as a
            # derived expression never reached PushedFilters): the July
            # slice now prunes at the parquet scan via row-group min/max
            # instead of formatting every row (guide §6)
            (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp_ltz"))
            & (F.col("o_orderdate") < F.lit("1996-08-01").cast("timestamp_ltz"))
            & (F.col("o_orderstatus") == "F")
        )
        # consumed twice (overwrite_where's predicate validation + the
        # partition write) and tiny (one month row) — pin it so the
        # scan+aggregate runs once (guide §1.2: don't compute things twice)
    )
    repl = pin(repl)
    table.overwrite_where(repl, "o_month = '1996-07'", partition_by=["o_month"])
    return table.read(spark).select(
        "o_month", "n_orders", F.col("rev_dec").cast("double").alias("revenue")
    )


QUERIES["m14_partition_overwrite"] = m14_partition_overwrite

ORACLE["m14_partition_overwrite"] = """
    WITH m AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS o_month, o_orderstatus, o_totalprice
      FROM orders
    )
    SELECT o_month, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM m WHERE o_month <> '1996-07'
    GROUP BY o_month
    UNION ALL
    SELECT o_month, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM m WHERE o_month = '1996-07' AND o_orderstatus = 'F'
    GROUP BY o_month
"""


def m15_multi_table_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table transactional publish (plans/txn.py publish_all —
    the reference's one-transaction-per-pipeline scope restated over
    the directory-swap protocol): a status rollup of orders and a
    returnflag rollup of lineitem are prepared fully, then committed
    together; the query reads BOTH tables back through their published
    paths and emits one row per (table, group), so a publish that
    dropped, half-wrote, or double-wrote either side hash-mismatches.
    Failure-atomicity (rollback of completed swaps) is proven in
    tests/test_txn.py."""
    from python_openetl_spark.plans.pipelines import ParquetTable
    from python_openetl_spark.plans.txn import Publish, publish_all

    base = scratch("m15")
    ta = ParquetTable(base + "/orders_by_status")
    tb = ParquetTable(base + "/lineitem_by_flag")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    publish_all(
        [
            Publish(
                ta,
                o.groupBy("o_orderstatus").agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("v_dec"),
                ),
            ),
            Publish(
                tb,
                li.groupBy("l_returnflag").agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias(
                        "v_dec"
                    ),
                ),
            ),
        ]
    )
    a = ta.read(spark).select(
        F.lit("orders_by_status").alias("table_name"),
        F.col("o_orderstatus").alias("grp"),
        "n",
        F.col("v_dec").cast("double").alias("value"),
    )
    b = tb.read(spark).select(
        F.lit("lineitem_by_flag").alias("table_name"),
        F.col("l_returnflag").alias("grp"),
        "n",
        F.col("v_dec").cast("double").alias("value"),
    )
    return a.unionByName(b)


QUERIES["m15_multi_table_publish"] = m15_multi_table_publish

ORACLE["m15_multi_table_publish"] = """
    SELECT 'orders_by_status' AS table_name, o_orderstatus AS grp,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS value
    FROM orders GROUP BY o_orderstatus
    UNION ALL
    SELECT 'lineitem_by_flag', l_returnflag,
           COUNT(*),
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
    FROM lineitem GROUP BY l_returnflag
"""


def m16_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned-table time travel (plans/versioned.py VersionedTable
    — immutable v{N} snapshots + one atomic pointer commit, the
    Delta/Iceberg architecture reduced to a filesystem): commit a
    pre-cutoff rollup as v1, the full rollup as v2, read BOTH versions
    back, then roll back to v1 and read the current pointer again —
    a pointer path that mutates snapshots, reads the wrong version, or
    loses the rollback hash-mismatches."""
    from python_openetl_spark.plans.versioned import VersionedTable

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("v_dec"),
        )

    o = t(spark, sf_dir, "orders")
    vt = VersionedTable(scratch("m16") + "/t")
    vt.commit(rollup(o.filter(F.col("o_orderdate") < F.lit(_CUTOFF).cast("timestamp_ltz"))))
    vt.commit(rollup(o))
    v1 = vt.read(spark, version=1)
    v2 = vt.read(spark, version=2)
    vt.rollback(1)
    cur = vt.read(spark)

    def tag(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            F.lit(name).alias("snapshot"),
            F.col("o_orderstatus").alias("grp"),
            "n",
            F.col("v_dec").cast("double").alias("value"),
        )

    return (
        tag(v1, "v1")
        .unionByName(tag(v2, "v2"))
        .unionByName(tag(cur, "after_rollback"))
    )


QUERIES["m16_time_travel"] = m16_time_travel

ORACLE["m16_time_travel"] = f"""
    WITH pre AS (
      SELECT o_orderstatus AS grp, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS value
      FROM orders WHERE o_orderdate < TIMESTAMP '{_CUTOFF}'
      GROUP BY o_orderstatus
    ),
    allr AS (
      SELECT o_orderstatus AS grp, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS value
      FROM orders GROUP BY o_orderstatus
    )
    SELECT 'v1' AS snapshot, * FROM pre
    UNION ALL
    SELECT 'v2', * FROM allr
    UNION ALL
    SELECT 'after_rollback', * FROM pre
"""


def m19_version_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental read between table versions
    (plans/versioned.py VersionedTable.changes): commit the customer
    dimension as v1, a mutated copy as v2 (deletes: custkey %11 == 0;
    updates: +100 balance on %7 == 0; inserts: %13 == 0 echoed at
    custkey + 1_000_000), then consume the v1->v2 CDC feed — the
    "what changed since version N" contract, computed from the two
    immutable snapshots with one full-outer pk join."""
    from python_openetl_spark.plans.versioned import VersionedTable

    c = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", F.col("c_acctbal").cast("double").alias("c_acctbal")
    )
    v2 = (
        c.filter(F.col("c_custkey") % 11 != 0)
        .withColumn(
            "c_acctbal",
            F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 100.0).otherwise(
                F.col("c_acctbal")
            ),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 13 == 0).select(
                (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
                "c_nationkey",
                "c_acctbal",
            )
        )
    )
    vt = VersionedTable(scratch("m19") + "/t")
    vt.commit(c)
    vt.commit(v2)
    return vt.changes(spark, "c_custkey", from_version=1)


QUERIES["m19_version_changes"] = m19_version_changes

ORACLE["m19_version_changes"] = """
    WITH old AS (
      SELECT c_custkey, c_nationkey, c_acctbal::DOUBLE AS c_acctbal FROM customer
    ),
    new AS (
      SELECT c_custkey, c_nationkey,
             CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
                  ELSE c_acctbal END AS c_acctbal
      FROM old WHERE c_custkey % 11 <> 0
      UNION ALL
      SELECT c_custkey + 1000000, c_nationkey, c_acctbal
      FROM old WHERE c_custkey % 13 = 0
    )
    SELECT COALESCE(n.c_custkey, o.c_custkey) AS c_custkey,
           CASE WHEN n.c_custkey IS NULL THEN o.c_nationkey ELSE n.c_nationkey END AS c_nationkey,
           CASE WHEN n.c_custkey IS NULL THEN o.c_acctbal ELSE n.c_acctbal END AS c_acctbal,
           CASE WHEN o.c_custkey IS NULL THEN 'I'
                WHEN n.c_custkey IS NULL THEN 'D'
                WHEN n.c_nationkey IS DISTINCT FROM o.c_nationkey
                  OR n.c_acctbal IS DISTINCT FROM o.c_acctbal THEN 'U'
           END AS change_type
    FROM new n FULL OUTER JOIN old o ON n.c_custkey = o.c_custkey
    WHERE CASE WHEN o.c_custkey IS NULL THEN 'I'
               WHEN n.c_custkey IS NULL THEN 'D'
               WHEN n.c_nationkey IS DISTINCT FROM o.c_nationkey
                 OR n.c_acctbal IS DISTINCT FROM o.c_acctbal THEN 'U'
          END IS NOT NULL
"""


def m20_version_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention lifecycle for the versioned store (plans/versioned.py
    vacuum): commit three customer snapshots (v2 deletes every 5th key,
    v3 inserts every 9th surviving key echoed at +2M), vacuum to the
    newest two, and report each SURVIVING version's row count by
    actually scanning it — proving vacuum removed exactly the old
    version's files while the kept versions stay readable. The pointer
    commit protocol makes retention an explicit, schedulable verb (the
    same contract as the IVF store's vacuum)."""
    from python_openetl_spark.plans.versioned import VersionedTable

    c = t(spark, sf_dir, "customer").select("c_custkey")
    v2 = c.filter(F.col("c_custkey") % 5 != 0)
    v3 = v2.unionByName(
        v2.filter(F.col("c_custkey") % 9 == 0).select(
            (F.col("c_custkey") + 2_000_000).alias("c_custkey")
        )
    )
    vt = VersionedTable(scratch("m20") + "/t")
    vt.commit(c)
    vt.commit(v2)
    vt.commit(v3)
    removed = vt.vacuum(keep_last=2)
    assert removed == [1], removed
    out = None
    for v in vt.versions():
        row = vt.read(spark, version=v).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows")
        ).select(F.lit(v).cast("int").alias("version"), "n_rows")
        out = row if out is None else out.unionByName(row)
    return out


QUERIES["m20_version_retention"] = m20_version_retention

ORACLE["m20_version_retention"] = """
    WITH c AS (SELECT c_custkey FROM customer),
    v2 AS (SELECT * FROM c WHERE c_custkey % 5 <> 0),
    v3 AS (
      SELECT * FROM v2
      UNION ALL
      SELECT c_custkey + 2000000 FROM v2 WHERE c_custkey % 9 = 0
    )
    SELECT 2 AS version, (SELECT COUNT(*) FROM v2)::BIGINT AS n_rows
    UNION ALL
    SELECT 3, (SELECT COUNT(*) FROM v3)::BIGINT
"""
