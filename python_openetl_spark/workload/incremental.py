"""Incremental-maintenance operators as oracle-checkable queries
(SURVEY §2.1 R8/R9/R10/K6, §2.3 "incremental maintenance").

Each query builds a deterministic target/delta pair from the fixture
tables, applies the engine operator (operators.merge), and returns the
result; the oracle states the same semantics in ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_openetl_spark.operators.merge import (
    conflicting_keys,
    dedupe_latest,
    merge_upsert,
    propagate_deletes,
    temporal_delta,
)
from python_openetl_spark.workload.util import scratch, t

# Orders before the cutoff form the "target" snapshot; orders in the
# overlap window re-arrive as a delta with a changed totalprice
# (simulated update) plus genuinely new orders after the cutoff.
_CUTOFF = "2000-01-01"
_OVERLAP = "1999-01-01"


def _target(spark, sf_dir) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderdate") < F.lit(_CUTOFF).cast("timestamp_ltz")).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


def _delta(spark, sf_dir) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderdate") >= F.lit(_OVERLAP).cast("timestamp_ltz")).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
    )


def m01_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE semantics (R8): matched rows take the delta's values
    (doubled price), unmatched survive, new rows insert."""
    return merge_upsert(_target(spark, sf_dir), _delta(spark, sf_dir), pk="o_orderkey")


def m02_delta_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-pk delta resolution: keep the latest version per pk
    (the ON-CONFLICT statement-order hazard, SURVEY §7)."""
    ev = t(spark, sf_dir, "events").select("event_id", "ts", "value")
    v2 = ev.withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR")).withColumn(
        "value", F.col("value") + F.lit(1000.0)
    )
    dup_delta = ev.unionByName(v2)
    out = dedupe_latest(dup_delta, "event_id", "ts")
    # epoch micros instead of a raw timestamp → engine/pandas-bridge-proof
    return out.select("event_id", F.unix_micros("ts").alias("ts_epoch_us"), "value")


def m03_propagate_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete propagation (R9/R10): ids present in dest but gone from
    source — distributed anti-join instead of client-side sets."""
    dest = t(spark, sf_dir, "customer")
    source = dest.filter(F.col("c_acctbal") > 0)
    _kept, deleted = propagate_deletes(dest, source, "c_custkey")
    return deleted


def m04_safe_append_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conflict detection for safe_append (K6): incoming pks already in
    the target (left-semi join)."""
    target = _target(spark, sf_dir)
    incoming = _delta(spark, sf_dir)
    return conflicting_keys(target, incoming, "o_orderkey")


def m05_temporal_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5 delta read via the operator itself (pushed-down range scan)."""
    ev = t(spark, sf_dir, "events")
    return temporal_delta(ev, "ts", "2024-01-15 00:00:00", 72).select(
        "event_id", "user_id", "value"
    )


_T0 = "1998-06-01 00:00:00"
_T1 = "2001-06-01 00:00:00"


def _scd_delta(spark, sf_dir) -> DataFrame:
    """Changed rows (doubled price) + brand-new rows (_delta) + an
    unchanged echo slice that must merge as a no-op (pks % 7, strictly
    before the overlap so no pk appears twice in the delta)."""
    o = t(spark, sf_dir, "orders")
    echo = o.filter(
        (F.col("o_orderdate") < F.lit(_OVERLAP).cast("timestamp_ltz"))
        & (F.col("o_orderkey") % 7 == 0)
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    return _delta(spark, sf_dir).unionByName(echo)


def m06_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """History-preserving type-2 merge: changed pks close their current
    version and open a new one; unchanged echo rows are no-ops; new pks
    insert open. Timestamps surfaced as epoch micros."""
    from python_openetl_spark.operators.scd import scd2_init, scd2_merge

    history = scd2_init(_target(spark, sf_dir), _T0)
    out = scd2_merge(history, _scd_delta(spark, sf_dir), "o_orderkey", _T1)
    return out.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros("valid_to").alias("valid_to_us"),
        "is_current",
    )


def m07_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-rollup maintenance: fold the post-cutoff delta's
    partial aggregates into the pre-cutoff rollup; equals a full
    recompute over all orders (the oracle) at the cost of the delta."""
    from python_openetl_spark.operators.rollup import incremental_rollup, partial_aggs

    spec = {"o_orderkey": ["count"], "o_totalprice": ["sum", "max"]}
    dec = lambda df: df.withColumn(  # noqa: E731 — decimal sums, order-independent
        "o_totalprice", F.col("o_totalprice").cast("decimal(24,6)")
    )
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cutoff = F.lit(_CUTOFF).cast("timestamp_ltz")
    base = dec(o.filter(F.col("o_orderdate") < cutoff))
    delta_rows = dec(o.filter(F.col("o_orderdate") >= cutoff))
    rollup = partial_aggs(base, ["o_custkey"], spec)
    merged = incremental_rollup(rollup, delta_rows, ["o_custkey"], spec)
    return merged.select(
        "o_custkey",
        F.col("count_o_orderkey").alias("n_orders"),
        F.col("sum_o_totalprice").cast("double").alias("total_price"),
        F.col("max_o_totalprice").cast("double").alias("max_price"),
    )


def m08_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC feed between two snapshots (operators.merge.snapshot_diff):
    pre-cutoff orders = old, overlap-modified + post-cutoff = new →
    I/U/D rows from one full-outer pk join."""
    from python_openetl_spark.operators.merge import snapshot_diff

    old = _target(spark, sf_dir)
    o = t(spark, sf_dir, "orders")
    # new snapshot: keep pks % 3 != 0 (the rest "deleted"), double the
    # price on pks % 5 == 0 ("updated"), plus all post-cutoff rows ("inserted")
    kept = old.filter(F.col("o_orderkey") % 3 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") * 2).otherwise(
            F.col("o_totalprice")
        ),
    )
    inserted = o.filter(F.col("o_orderdate") >= F.lit(_CUTOFF).cast("timestamp_ltz")).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    new = kept.unionByName(inserted)
    return snapshot_diff(old, new, "o_orderkey")


def _tmp_table() -> "ParquetTable":
    from python_openetl_spark.plans.pipelines import ParquetTable

    return ParquetTable(scratch("roundtrip") + "/t")


def m09_seed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 end-to-end, driver-checkable: seed (drop → normalize → atomic
    overwrite, plans/pipelines.seed — the reference's snapshot verb,
    /root/reference/pyopenetl/pipelines.py:56) into a temp ParquetTable,
    then read the table back. The source carries a string ``created_at``
    with planted unparseable values, so the read-back result proves the
    write path ran the NULL-on-failure timestamp coercion (R11)."""
    from python_openetl_spark.plans.pipelines import seed

    o = t(spark, sf_dir, "orders")
    src = o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 10 == 0, F.lit("not-a-date"))
        .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"))
        .alias("created_at"),
    )
    table = seed(src, _tmp_table())
    return table.read(spark).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.unix_micros("created_at").alias("created_us"),
    )


def m10_upsert_sync_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 end-to-end, driver-checkable: the reference's whole reason to
    exist (/root/reference/pyopenetl/pipelines.py:94) — seed a stale
    snapshot, then upsert_sync it against a moved-on source (delta read →
    MERGE → delete propagation → atomic overwrite) and read the synced
    table back. Updates double the price inside the delta window, new
    pks insert, pks missing from the source (``% 13 == 0``) delete."""
    from python_openetl_spark.plans.pipelines import seed, upsert_sync

    o = t(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    stale = o.filter(F.col("o_orderdate") < F.lit(_CUTOFF).cast("timestamp_ltz")).select(
        *cols, F.col("o_orderdate").alias("updated_at")
    )
    source = o.filter(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        F.col("o_orderdate").alias("updated_at"),
    )
    table = seed(stale, _tmp_table())
    # anchor - interval == _OVERLAP, so the delta window is [_OVERLAP, ∞)
    upsert_sync(
        spark,
        source,
        table,
        pk="o_orderkey",
        ts_col="updated_at",
        anchor=_T1,
        data_interval_hours=21168,  # 882 days: 1999-01-01 .. 2001-06-01
    )
    return table.read(spark).select(
        *cols, F.unix_micros("updated_at").alias("updated_us")
    )


def m11_normalize_timestamps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R11 as a driver row: the reference's one real transform
    (convert_column_types, /root/reference/pyopenetl/operations.py:120-128)
    — ``*_at`` string columns coerce to timestamp with NULL on
    unparseable/NULL input; ``flat_attribute`` ("_at" substring, not
    suffix) must pass through untouched under the default suffix mode."""
    from python_openetl_spark.functions.normalize import normalize_timestamps

    ev = t(spark, sf_dir, "events")
    src = ev.select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, F.lit("not a timestamp"))
        .when(F.col("event_id") % 11 == 0, F.lit(None).cast("string"))
        .otherwise(F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
        .alias("created_at"),
        F.date_format("ts", "yyyy-MM-dd").alias("ingested_at"),
        F.date_format("ts", "yyyy/MM").alias("flat_attribute"),
    )
    out = normalize_timestamps(src)
    return out.select(
        "event_id",
        F.unix_micros("created_at").alias("created_us"),
        F.unix_micros("ingested_at").alias("ingested_us"),
        "flat_attribute",
    )


QUERIES = {
    "m01_merge_upsert": m01_merge_upsert,
    "m02_delta_dedup_latest": m02_delta_dedup_latest,
    "m03_propagate_deletes": m03_propagate_deletes,
    "m04_safe_append_conflicts": m04_safe_append_conflicts,
    "m05_temporal_delta": m05_temporal_delta,
    "m06_scd2_merge": m06_scd2_merge,
    "m07_incremental_rollup": m07_incremental_rollup,
    "m08_snapshot_diff": m08_snapshot_diff,
    "m09_seed_roundtrip": m09_seed_roundtrip,
    "m10_upsert_sync_roundtrip": m10_upsert_sync_roundtrip,
    "m11_normalize_timestamps": m11_normalize_timestamps,
}

_TARGET_SQL = f"""
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderdate < TIMESTAMP '{_CUTOFF}'
"""
_DELTA_SQL = f"""
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2 AS o_totalprice
  FROM orders WHERE o_orderdate >= TIMESTAMP '{_OVERLAP}'
"""

ORACLE = {
    "m01_merge_upsert": f"""
        WITH target AS ({_TARGET_SQL}), delta AS ({_DELTA_SQL})
        SELECT * FROM target WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
        UNION ALL
        SELECT * FROM delta
    """,
    "m02_delta_dedup_latest": """
        WITH dup_delta AS (
          SELECT event_id, ts, value FROM events
          UNION ALL
          SELECT event_id, ts + INTERVAL 1 HOUR AS ts, value + 1000.0 AS value FROM events
        )
        SELECT event_id, epoch_us(ts) AS ts_epoch_us, value FROM (
          -- value DESC mirrors dedupe_latest's content tiebreak: a
          -- same-(pk, ts) tie must resolve identically on both engines
          SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY ts DESC, value DESC) rn
          FROM dup_delta
        ) WHERE rn = 1
    """,
    "m03_propagate_deletes": """
        SELECT c_custkey FROM customer
        WHERE c_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
    """,
    "m04_safe_append_conflicts": f"""
        WITH target AS ({_TARGET_SQL}), delta AS ({_DELTA_SQL})
        SELECT DISTINCT o_orderkey FROM delta
        WHERE o_orderkey IN (SELECT o_orderkey FROM target)
    """,
    "m05_temporal_delta": """
        SELECT event_id, user_id, value FROM events
        WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' - INTERVAL 72 HOURS
    """,
    "m06_scd2_merge": f"""
        WITH target AS ({_TARGET_SQL}),
        delta0 AS ({_DELTA_SQL}),
        echo AS (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
          FROM orders
          WHERE o_orderdate < TIMESTAMP '{_OVERLAP}' AND o_orderkey % 7 = 0
        ),
        delta AS (SELECT * FROM delta0 UNION ALL SELECT * FROM echo),
        changes AS (
          SELECT d.* FROM delta d LEFT JOIN target t ON d.o_orderkey = t.o_orderkey
          WHERE t.o_orderkey IS NULL
             OR d.o_custkey IS DISTINCT FROM t.o_custkey
             OR d.o_orderstatus IS DISTINCT FROM t.o_orderstatus
             OR d.o_totalprice IS DISTINCT FROM t.o_totalprice
        )
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               epoch_us(valid_from) AS valid_from_us,
               epoch_us(valid_to) AS valid_to_us, is_current
        FROM (
          SELECT t.*, TIMESTAMP '{_T0}' AS valid_from,
                 TIMESTAMP '{_T1}' AS valid_to, FALSE AS is_current
          FROM target t WHERE o_orderkey IN (SELECT o_orderkey FROM changes)
          UNION ALL
          SELECT t.*, TIMESTAMP '{_T0}', NULL, TRUE
          FROM target t WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changes)
          UNION ALL
          SELECT c.*, TIMESTAMP '{_T1}', NULL, TRUE FROM changes c
        )
    """,
    "m08_snapshot_diff": f"""
        WITH old AS ({_TARGET_SQL}),
        kept AS (
          SELECT o_orderkey, o_custkey, o_orderstatus,
                 CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                      ELSE o_totalprice END AS o_totalprice
          FROM old WHERE o_orderkey % 3 <> 0
        ),
        ins AS (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
          FROM orders WHERE o_orderdate >= TIMESTAMP '{_CUTOFF}'
        ),
        new AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
        SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
               CASE WHEN n.o_orderkey IS NULL THEN o.o_custkey ELSE n.o_custkey END AS o_custkey,
               CASE WHEN n.o_orderkey IS NULL THEN o.o_orderstatus ELSE n.o_orderstatus END AS o_orderstatus,
               CASE WHEN n.o_orderkey IS NULL THEN o.o_totalprice ELSE n.o_totalprice END AS o_totalprice,
               CASE WHEN o.o_orderkey IS NULL THEN 'I'
                    WHEN n.o_orderkey IS NULL THEN 'D'
                    WHEN n.o_custkey IS DISTINCT FROM o.o_custkey
                      OR n.o_orderstatus IS DISTINCT FROM o.o_orderstatus
                      OR n.o_totalprice IS DISTINCT FROM o.o_totalprice THEN 'U'
               END AS change_type
        FROM new n FULL OUTER JOIN old o ON n.o_orderkey = o.o_orderkey
        WHERE CASE WHEN o.o_orderkey IS NULL THEN 'I'
                   WHEN n.o_orderkey IS NULL THEN 'D'
                   WHEN n.o_custkey IS DISTINCT FROM o.o_custkey
                     OR n.o_orderstatus IS DISTINCT FROM o.o_orderstatus
                     OR n.o_totalprice IS DISTINCT FROM o.o_totalprice THEN 'U'
              END IS NOT NULL
    """,
    "m07_incremental_rollup": """
        SELECT o_custkey,
               COUNT(o_orderkey) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS total_price,
               CAST(MAX(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS max_price
        FROM orders GROUP BY o_custkey
    """,
    "m09_seed_roundtrip": """
        SELECT o_orderkey, o_custkey, o_totalprice,
               epoch_us(CASE WHEN o_orderkey % 10 = 0 THEN NULL
                             ELSE date_trunc('second', o_orderdate) END) AS created_us
        FROM orders
    """,
    "m10_upsert_sync_roundtrip": f"""
        -- models the pipeline exactly: delta read (window >= overlap),
        -- latest-wins dedup of duplicate-pk delta rows (ts, then the
        -- non-pk columns name-sorted DESC — dedupe_latest's content
        -- tiebreak), MERGE, and delete propagation (%13 pks vanish)
        WITH delta AS (
          SELECT o_orderkey, o_custkey, o_orderstatus,
                 o_totalprice * 2 AS o_totalprice, o_orderdate
          FROM orders
          WHERE o_orderkey % 13 <> 0 AND o_orderdate >= TIMESTAMP '{_OVERLAP}'
        ),
        dedup AS (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
          FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
              ORDER BY o_orderdate DESC, o_custkey DESC,
                       o_orderstatus DESC, o_totalprice DESC) rn
            FROM delta) WHERE rn = 1
        ),
        kept AS (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
          FROM orders
          WHERE o_orderdate < TIMESTAMP '{_CUTOFF}' AND o_orderkey % 13 <> 0
            AND o_orderkey NOT IN (SELECT o_orderkey FROM delta)
        )
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               epoch_us(o_orderdate) AS updated_us
        FROM (SELECT * FROM kept UNION ALL SELECT * FROM dedup)
    """,
    "m11_normalize_timestamps": """
        SELECT event_id,
               epoch_us(CASE WHEN event_id % 7 = 0 OR event_id % 11 = 0 THEN NULL
                             ELSE date_trunc('second', ts) END) AS created_us,
               epoch_us(CAST(strftime(ts, '%Y-%m-%d') AS TIMESTAMP)) AS ingested_us,
               strftime(ts, '%Y/%m') AS flat_attribute
        FROM events
    """,
}
