"""Round-3 sink/source format coverage: write -> read-back roundtrips
for CSV, JSON and ORC (K-family extension; parquet is covered by
m09/m10's ParquetTable seed paths).

The reference moves data between stores as CSV byte buffers
(/root/reference/pyopenetl/operations.py:167-170 COPY FROM STDIN) and
ingests flat files (operations.py:486-513); these queries prove the
Spark-native equivalents end-to-end at the driver's correctness gate:
each writes a derived frame to a temp directory in the given format,
reads it back with an explicit schema (no inference nondeterminism),
and returns the read-back rows — the oracle recomputes the same frame
from the source tables, so a lossy writer, a schema drift, or a
mis-parsed read all hash-mismatch.

Scale notes: all three writers shard by partition (one file per task —
the only scalable layout); CSV carries money as DECIMAL(12,2) strings
(doubles in CSV risk 17-digit round-trip formatting drift); JSON
exercises nested struct + array columns (the types object stores and
log pipelines actually ship); ORC is Spark-native columnar with
predicate pushdown on read-back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_openetl_spark.operators.materialize import pin
from python_openetl_spark.workload.util import scratch, t


def _tmp(fmt: str) -> str:
    return scratch(f"{fmt}_roundtrip") + "/data"


def k01_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = (
        t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("decimal(12,2)").alias("o_price"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
        )
    )
    path = _tmp("csv")
    src.write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.schema(
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_price decimal(12,2), o_date string"
    ).option("header", True).csv(path)
    # the write/read roundtrip stays DECIMAL(12,2) (that's the fidelity
    # under test); the RETURNED comparison projection is DOUBLE because
    # the driver hashes canonicalized strings and Spark's decimal prints
    # '205941.60' while DuckDB's decimal arrives via pandas as float64
    # '205941.6' — formatting-only divergence (r3 driver red)
    return back.withColumn("o_price", F.col("o_price").cast("double"))


def k02_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.struct(
            F.col("lang").alias("lang"), F.col("source").alias("source")
        ).alias("meta"),
        F.array(F.length("text").cast("long"), F.col("n_chars").cast("long")).alias(
            "stats"
        ),
    )
    path = _tmp("json")
    src.write.mode("overwrite").json(path)
    back = spark.read.schema(
        "doc_id long, meta struct<lang:string,source:string>, stats array<bigint>"
    ).json(path)
    # the roundtrip READS the nested types (schema above); the returned
    # frame flattens them because the driver's row canonicalizer cannot
    # sort array/struct cells (round-1 q28 err)
    return back.select(
        "doc_id",
        F.col("meta.lang").alias("lang"),
        F.col("meta.source").alias("source"),
        F.col("stats").getItem(0).alias("text_len"),
        F.col("stats").getItem(1).alias("n_chars"),
    )


def k03_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.col("l_extendedprice").cast("decimal(14,2)").alias("l_price"),
        "l_returnflag",
    )
    path = _tmp("orc")
    src.write.mode("overwrite").orc(path)
    return (
        spark.read.orc(path)
        # read-back filter proves pushdown survives the format hop
        .filter(F.col("l_quantity") > 0)
        # comparison projection in DOUBLE (see k01 note)
        .withColumn("l_price", F.col("l_price").cast("double"))
    )


def k04_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet publish through ``ParquetTable.overwrite``'s staging-swap
    — the engine's actual atomic publish protocol (write to staging dir,
    move live table aside, rename staging into place, drop backup).

    Two publishes land on the same table so the second one exercises
    the full backup→rename→cleanup path over a LIVE table, not just the
    fresh-create branch; the partitioned layout proves partition
    columns survive the swap and read back. Reference analogue: the
    COPY bulk-load path (/root/reference/pyopenetl/operations.py:154-178)
    — there a transactional COPY, here an atomic directory swap.
    """
    from python_openetl_spark.plans.pipelines import ParquetTable

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("double").alias("o_price"),
    )
    table = ParquetTable(_tmp("parquet"))
    # publish 1: fresh create (half the rows)
    table.overwrite(src.filter(F.col("o_orderkey") % 2 == 0), partition_by=["status"])
    # publish 2: atomic replace of the live table with the full frame
    table.overwrite(src, partition_by=["status"])
    # read-back filter proves partition-pruning-compatible scan works
    return table.read(spark).filter(F.col("o_custkey") > 0)


def k05_manifest_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-skipping scan through the data-skipping manifest
    (plans/manifest.py): publish orders, compact sorted by order date
    (tight disjoint per-file ranges), build the per-file min/max
    manifest, then answer a date-range rollup reading ONLY the files
    the manifest admits. tests/test_plans.py pins that the pruning
    actually skips files; this row proves end-to-end value equality
    with an unpruned scan (false positives filtered, no false
    negatives possible)."""
    from python_openetl_spark.plans.manifest import build_manifest, pruned_read
    from python_openetl_spark.plans.pipelines import ParquetTable

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    table = ParquetTable(_tmp("manifest"))
    # publish date-sorted directly (range partition + in-file sort =
    # exactly what compact(sort_by=...) produces, in ONE write; the
    # compact path itself is exercised by tests/test_plans.py)
    table.overwrite(
        src.repartitionByRange(8, "o_orderdate").sortWithinPartitions("o_orderdate")
    )
    man = build_manifest(spark, table.path, ["o_orderdate"])
    pr = pruned_read(
        spark, man, "o_orderdate", "1996-04-01", "1996-07-01", table_path=table.path
    )
    return pr.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("o_month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


def k06_zorder_layout_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order write layout (plans/zorder.py) end to end: lay events
    out by the interleaved (user_id, value) z-key — range-partitioned
    into files and sorted within each — then answer a two-dimensional
    range predicate from the laid-out copy. Multi-column clustering
    gives BOTH predicates row-group min/max locality from one layout
    (a single-column sort can only serve one); the skipping itself is
    pinned in tests/test_plans.py, this row proves the layout write
    loses/duplicates nothing under a selective 2-D read."""
    from python_openetl_spark.plans.zorder import zorder_layout

    src = t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    path = _tmp("zorder")
    zorder_layout(src, ["user_id", "value"], num_files=8).write.parquet(path)
    back = spark.read.parquet(path)
    return back.filter(
        (F.col("user_id") >= 100) & (F.col("user_id") < 200)
        & (F.col("value") >= 50.0) & (F.col("value") < 150.0)
    ).select("event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "value")


def k07_hive_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The K5 layout family's hive-partitioning member as a driver
    verb: seed orders partitioned by status (C1's partition_by =
    the reference's index replication as directory layout), then
    answer a status-filtered rollup from the partitioned copy —
    Catalyst prunes to the matching partition directories
    (PartitionFilters; asserted in tests/test_pipelines.py), and the
    oracle proves the layout write + pruned read loses nothing."""
    from python_openetl_spark.plans.pipelines import seed

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    table = seed(src, _tmp("hivepart"), partition_by=["o_orderstatus"])
    back = table.read(spark)
    return (
        back.filter(F.col("o_orderstatus") == "F")
        .groupBy(F.date_format("o_orderdate", "yyyy").alias("o_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(24,6)"))
            .cast("double")
            .alias("revenue"),
        )
    )



def k09_dynamic_partition_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning as a driver verb (the join-driven
    complement of k07's static PartitionFilters): the fact table is
    written hive-partitioned by status, the join's dim side carries a
    selective filter, and Catalyst injects a dynamicpruning subquery so
    the fact scan reads ONLY the partitions the dim rows name — decided
    at runtime from the broadcast result, which is the mechanism that
    makes star joins over partitioned 100 TB facts read 1/K of the
    data. The DPP subquery's presence in the plan is asserted in
    tests/test_pipelines.py; the oracle proves the pruned join loses
    nothing."""
    from python_openetl_spark.plans.pipelines import seed

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    table = seed(src, _tmp("dpp"), partition_by=["o_orderstatus"])
    fact = table.read(spark)
    dim = spark.createDataFrame(
        [("F", "final"), ("O", "open"), ("P", "pending")], "st string, st_name string"
    ).filter(F.col("st_name") != "open")
    return (
        fact.join(dim, fact.o_orderstatus == dim.st)
        .groupBy("st_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(24,6)"))
            .cast("double")
            .alias("revenue"),
        )
    )



def k10_tarball_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat-file tarball ingestion as a driver verb (S4/C3,
    reference `operations.py:634-686`): stage orders + customer as
    CSVs inside a tar, run plans.pipelines.ingest_tarball (untar ->
    header+inferSchema CSV scans -> seeded `cb_{name}` tables), then
    answer a join rollup from the INGESTED tables. The oracle computes
    the same rollup from the original fixtures, so the whole
    untar/infer/seed path is value-checked, not just exercised."""
    import os
    import tarfile

    from python_openetl_spark.plans.pipelines import ingest_tarball

    tmp = scratch("k10")
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    for name, df in (("orders", o), ("customer", c)):
        df.toPandas().to_csv(os.path.join(tmp, f"{name}.csv"), index=False)
    tar_path = os.path.join(tmp, "export.tar")
    with tarfile.open(tar_path, "w") as tf:
        for name in ("orders", "customer"):
            tf.add(os.path.join(tmp, f"{name}.csv"), arcname=f"{name}.csv")
    tables = ingest_tarball(spark, tar_path, os.path.join(tmp, "ingested"))
    io = tables["cb_orders"].read(spark)
    ic = tables["cb_customer"].read(spark)
    return (
        io.join(ic, io.o_custkey == ic.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(24,6)"))
            .cast("double")
            .alias("revenue"),
        )
    )


def k11_remote_csv_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remote-CSV seeding as a driver verb (S3/C1, reference
    `operations.py:486-513`): stage the orders slice as a CSV, seed it
    through sources.files.seed_from_remote_csv via a ``file://`` URL
    (the same fetch -> parallel CSV scan -> atomic overwrite path an
    http source takes), read the seeded table back and aggregate."""
    import os

    from python_openetl_spark.sources.files import seed_from_remote_csv

    tmp = scratch("k11")
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    csv_path = os.path.join(tmp, "orders.csv")
    o.toPandas().to_csv(csv_path, index=False)
    seed_from_remote_csv(
        spark, "file://" + csv_path, os.path.join(tmp, "seeded")
    )
    back = spark.read.parquet(os.path.join(tmp, "seeded"))
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(24,6)"))
        .cast("double")
        .alias("revenue"),
    )



def k12_registry_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-dispatch (C4, reference `pipelines.py` source/dest
    switch) as a driver verb: the SAME orders slice is staged to
    parquet, CSV, JSON, ORC, and a live in-memory Derby JDBC table,
    then read back purely through `sources.registry.read` format
    specs; one rollup per leg, tagged by format. Any dispatch route
    that drops, re-types, or duplicates rows hash-mismatches its
    four siblings and the oracle."""
    import os

    from python_openetl_spark.sources import registry
    from python_openetl_spark.sources.jdbc import JdbcSource, write_table

    tmp = scratch("k12")
    # the SAME slice feeds five independent sink writes: pin it once so
    # each write reads the materialized rows instead of re-running the
    # source scan+projection per sink (guide §1.2)
    o = pin(t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ))
    derby = JdbcSource(
        url="jdbc:derby:memory:poek12;create=true",
        driver="org.apache.derby.iapi.jdbc.AutoloadedDriver",
    )
    # the five staging writes are independent actions over the pinned
    # slice — submit them from a thread pool so each write's task tail
    # back-fills the cores the others free (guide §2.6); results are
    # unaffected (five disjoint sinks, one source RDD)
    from concurrent.futures import ThreadPoolExecutor

    stage_writes = [
        lambda: o.write.parquet(os.path.join(tmp, "pq")),
        lambda: o.write.option("header", True).csv(os.path.join(tmp, "csv")),
        lambda: o.write.json(os.path.join(tmp, "js")),
        lambda: o.write.orc(os.path.join(tmp, "orc")),
        lambda: write_table(o, derby, "K12_ORDERS", mode="overwrite"),
    ]
    with ThreadPoolExecutor(max_workers=len(stage_writes)) as pool:
        for _ in pool.map(lambda w: w(), stage_writes):
            pass
    specs = {
        "parquet": {"format": "parquet", "path": os.path.join(tmp, "pq")},
        "csv": {"format": "csv", "path": os.path.join(tmp, "csv")},
        "json": {
            "format": "json",
            "path": os.path.join(tmp, "js"),
            # JSON carries no schema; explicit DDL keeps an empty
            # stage readable (and skips the inference pass)
            "schema": "o_orderkey bigint, o_orderstatus string, o_totalprice double",
        },
        "orc": {"format": "orc", "path": os.path.join(tmp, "orc")},
        "jdbc": {
            "format": "jdbc",
            "url": derby.url,
            "driver": derby.driver,
            "table": "K12_ORDERS",
        },
    }
    out = None
    for name, spec in specs.items():
        df = registry.read(spark, spec)
        leg = df.groupBy().agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(24,6)"))
            .cast("double")
            .alias("revenue"),
            F.sum("o_orderkey").cast("long").alias("key_checksum"),
        ).select(F.lit(name).alias("fmt"), "n_orders", "revenue", "key_checksum")
        out = leg if out is None else out.unionByName(leg)
    return out


def k08_permissive_csv_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row-tolerant CSV ingestion (S3/C3 hardening): a CSV
    with planted corrupt lines — a non-numeric key column (every
    500th order) and a truncated row (every 300th) — read back under
    ``mode=PERMISSIVE`` with a ``columnNameOfCorruptRecord`` column;
    good rows aggregate, bad rows count. The oracle derives the
    expected good/bad split from the orders table itself (we control
    exactly which rows were corrupted), so the check states that
    Spark's permissive parser recovers precisely the uncorrupted
    subset — no file-read in the oracle, no ordering dependency.

    The aggregate references EVERY data column (the checksums below are
    not decoration): corrupt-record detection only fires for columns
    the parser actually parses, and column pruning would otherwise push
    just (_bad, o_totalprice) down to the scan — the malformed
    o_custkey field would never be parsed and n_bad would read 0 (the
    documented corrupt-column/pruning interaction; caching is the other
    workaround)."""
    src = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    line = (
        F.when(
            F.col("o_orderkey") % 500 == 0,
            F.concat_ws(",", F.col("o_orderkey"), F.lit("notanumber"),
                        F.col("o_totalprice")),
        )
        .when(F.col("o_orderkey") % 300 == 0, F.col("o_orderkey").cast("string"))
        .otherwise(
            F.concat_ws(",", F.col("o_orderkey"), F.col("o_custkey"),
                        F.col("o_totalprice"))
        )
    )
    path = _tmp("permissive_csv")
    src.select(line.alias("value")).repartition(1).sortWithinPartitions(
        "value"
    ).write.mode("overwrite").text(path)
    parsed = (
        spark.read.schema(
            "o_orderkey long, o_custkey long, o_totalprice double, _bad string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(path)
    )
    good = F.col("_bad").isNull()
    return parsed.agg(
        F.sum(good.cast("long")).alias("n_good"),
        F.sum(F.col("_bad").isNotNull().cast("long")).alias("n_bad"),
        F.sum(
            F.when(good, F.col("o_totalprice"))
            .otherwise(F.lit(0.0))
            .cast("decimal(24,6)")
        ).cast("double").alias("good_revenue"),
        F.sum(F.when(good, F.col("o_orderkey"))).cast("long").alias("key_checksum"),
        F.sum(F.when(good, F.col("o_custkey"))).cast("long").alias("cust_checksum"),
    )


def k13_doctor_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Environment-capability report as a driver query (r6 verdict #8):
    ``doctor()``'s rows — capability name + available flag — surface in
    the correctness file, so a sandbox change (a BigQuery jar
    appearing, a codec library landing) is visible round-over-round in
    driver evidence rather than only in local tests. Rows-only by
    nature (the available flags ARE environment state — an oracle
    would have to hardcode the sandbox); gate consistency with the
    operators' own skip/raise behavior is pinned by
    tests/test_doctor.py."""
    from python_openetl_spark.doctor import doctor

    return spark.createDataFrame(
        [(c.name, c.available) for c in doctor(spark)],
        "capability string, available boolean",
    ).orderBy("capability")


QUERIES = {
    "k01_csv_roundtrip": k01_csv_roundtrip,
    "k02_json_roundtrip": k02_json_roundtrip,
    "k03_orc_roundtrip": k03_orc_roundtrip,
    "k04_parquet_roundtrip": k04_parquet_roundtrip,
    "k05_manifest_pruned_scan": k05_manifest_pruned_scan,
    "k06_zorder_layout_scan": k06_zorder_layout_scan,
    "k07_hive_partition_pruned_scan": k07_hive_partition_pruned_scan,
    "k09_dynamic_partition_pruned_join": k09_dynamic_partition_pruned_join,
    "k10_tarball_ingest": k10_tarball_ingest,
    "k11_remote_csv_seed": k11_remote_csv_seed,
    "k12_registry_dispatch": k12_registry_dispatch,
    "k08_permissive_csv_ingest": k08_permissive_csv_ingest,
    # rows-only by design; see docstring
    "k13_doctor_report": k13_doctor_report,
}

ORACLE = {
    "k12_registry_dispatch": """
        WITH agg AS (
          SELECT COUNT(*) AS n_orders,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
                 SUM(o_orderkey)::BIGINT AS key_checksum
          FROM orders
        )
        SELECT fmt, n_orders, revenue, key_checksum
        FROM (VALUES ('parquet'), ('csv'), ('json'), ('orc'), ('jdbc')) f(fmt), agg
    """,
    "k10_tarball_ingest": """
        SELECT c_nationkey, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey
    """,
    "k11_remote_csv_seed": """
        SELECT o_orderstatus, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS revenue
        FROM orders GROUP BY o_orderstatus
    """,
    "k09_dynamic_partition_pruned_join": """
        WITH dim(st, st_name) AS (VALUES ('F', 'final'), ('O', 'open'), ('P', 'pending'))
        SELECT st_name, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS revenue
        FROM orders JOIN dim ON o_orderstatus = st
        WHERE st_name <> 'open'
        GROUP BY st_name
    """,
    "k01_csv_roundtrip": """
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_price,
               STRFTIME(o_orderdate, '%Y-%m-%d') AS o_date
        FROM orders
    """,
    "k02_json_roundtrip": """
        SELECT doc_id, lang, source,
               CAST(length(text) AS BIGINT) AS text_len,
               CAST(n_chars AS BIGINT) AS n_chars
        FROM documents
    """,
    "k03_orc_roundtrip": """
        SELECT l_orderkey, l_linenumber, l_quantity,
               CAST(CAST(l_extendedprice AS DECIMAL(14,2)) AS DOUBLE) AS l_price,
               l_returnflag
        FROM lineitem WHERE l_quantity > 0
    """,
    "k04_parquet_roundtrip": """
        SELECT o_orderkey, o_custkey,
               o_orderstatus AS status,
               CAST(o_totalprice AS DOUBLE) AS o_price
        FROM orders WHERE o_custkey > 0
    """,
    "k05_manifest_pruned_scan": """
        SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-04-01'
          AND o_orderdate <= TIMESTAMP '1996-07-01'
        GROUP BY o_month
    """,
    "k06_zorder_layout_scan": """
        SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
        FROM events
        WHERE user_id >= 100 AND user_id < 200
          AND value >= 50.0 AND value < 150.0
    """,
    "k07_hive_partition_pruned_scan": """
        SELECT STRFTIME(o_orderdate, '%Y') AS o_year,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS revenue
        FROM orders
        WHERE o_orderstatus = 'F'
        GROUP BY 1
    """,
    "k08_permissive_csv_ingest": """
        WITH s AS (
          SELECT o_orderkey, o_custkey, o_totalprice,
                 (o_orderkey % 500 = 0 OR o_orderkey % 300 = 0) AS corrupt
          FROM orders WHERE o_orderkey % 100 = 0
        )
        SELECT CAST(SUM(CASE WHEN NOT corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
               CAST(SUM(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
               CAST(SUM(CASE WHEN NOT corrupt
                             THEN CAST(o_totalprice AS DECIMAL(24,6))
                             ELSE 0 END) AS DOUBLE) AS good_revenue,
               CAST(SUM(CASE WHEN NOT corrupt THEN o_orderkey END) AS BIGINT) AS key_checksum,
               CAST(SUM(CASE WHEN NOT corrupt THEN o_custkey END) AS BIGINT) AS cust_checksum
        FROM s
    """,
}


def k14_compaction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction verb (plans/pipelines.py compact_table):
    fragment the orders projection into 32 sliver files (the shape a
    year of streaming micro-batch appends leaves behind), compact to
    ~500-row files through the atomic staging swap, and report the
    invariants as booleans — Spark's committer occasionally emits one
    extra (empty) file, so EXACT file counts are writer behavior, not
    contract: the contract is "fragmented wrote >= one file per
    non-empty partition" and "compaction reached ~ceil(n/500) files
    without losing a row"."""
    import math

    from python_openetl_spark.plans.pipelines import compact_table

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    n = o.count()
    if n == 0:  # nothing to fragment; report the no-op
        return spark.createDataFrame(
            [(0, True, True)],
            "n_rows long, fragmented boolean, compacted_ok boolean",
        )
    path = scratch("k14") + "/orders"
    o.repartition(32).write.parquet(path)
    stats = compact_table(spark, path, target_rows_per_file=500)
    expected = max(1, math.ceil(n / 500))
    ok = (
        stats["n_rows"] == n
        and spark.read.parquet(path).count() == n
        and stats["files_after"] <= expected + 1
        and stats["files_after"] <= stats["files_before"]
    )
    return spark.createDataFrame(
        [(n, stats["files_before"] >= min(32, n), ok)],
        "n_rows long, fragmented boolean, compacted_ok boolean",
    )


QUERIES["k14_compaction_report"] = k14_compaction_report

ORACLE["k14_compaction_report"] = """
    SELECT COUNT(*)::BIGINT AS n_rows,
           TRUE AS fragmented,
           TRUE AS compacted_ok
    FROM orders
"""


def k15_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro write -> read-back roundtrip (the row-oriented interchange
    format of Kafka/schema-registry pipelines — the K-family's
    complement to columnar ORC/parquet). This Spark distribution
    bundles the spark-avro classes but does NOT register the "avro"
    short name (no DataSourceRegister entry), so the fully-qualified
    format class is used — the r6-advice classloader-aware doctor()
    probe is what surfaced that the capability actually exists here.
    Nested struct + array columns prove Avro's typed nesting (record /
    array schemas) survives the hop; read back with explicit schema
    (no inference nondeterminism), flattened for the driver hash (the
    canonicalizer cannot sort struct cells — k02 convention)."""
    fq = "org.apache.spark.sql.avro.AvroFileFormat"
    src = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        ).alias("meta"),
        F.array(
            F.col("o_custkey"), (F.col("o_orderkey") % 7)
        ).alias("keys"),
        F.col("o_totalprice").cast("double").alias("o_price"),
    )
    path = _tmp("avro")
    src.write.format(fq).save(path)
    back = spark.read.format(fq).schema(
        "o_orderkey long, meta struct<status:string,priority:string>,"
        " keys array<bigint>, o_price double"
    ).load(path)
    return back.select(
        "o_orderkey",
        F.col("meta.status").alias("status"),
        F.col("meta.priority").alias("priority"),
        F.col("keys").getItem(0).alias("custkey"),
        F.col("keys").getItem(1).alias("key_mod7"),
        "o_price",
    )


QUERIES["k15_avro_roundtrip"] = k15_avro_roundtrip

ORACLE["k15_avro_roundtrip"] = """
    SELECT o_orderkey,
           o_orderstatus AS status,
           o_orderpriority AS priority,
           o_custkey AS custkey,
           o_orderkey % 7 AS key_mod7,
           o_totalprice::DOUBLE AS o_price
    FROM orders
"""


def k16_jdbc_catalog_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live catalog scan (S5, reference `operations.py:271-281`
    get_postgres_table_schema) as a driver verb: a typed events slice
    is written to an in-memory Derby table (the k12 live-JDBC device),
    its COLUMN CATALOG is read back through `sources.jdbc
    derby_columns_query` (the SYS.SYSCOLUMNS dialect of the
    information_schema scan), and each Derby DDL type is normalized to
    the Spark type IN-PLAN (`functions.normalize.spark_type_from_derby`
    — regexp strip + literal map lookup, the 15-type PG map's Derby
    twin). The oracle is the statically-known schema the writer
    creates (long→BIGINT, string→CLOB, double→DOUBLE,
    timestamp→TIMESTAMP), so a wrong writer type mapping, a broken
    catalog query, or a wrong normalization all hash-mismatch."""
    from python_openetl_spark.functions.normalize import spark_type_from_derby
    from python_openetl_spark.sources.jdbc import (
        JdbcSource,
        derby_columns_query,
        read_query,
        write_table,
    )

    ev = t(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    derby = JdbcSource(
        url="jdbc:derby:memory:poek16;create=true",
        driver="org.apache.derby.iapi.jdbc.AutoloadedDriver",
    )
    write_table(ev.limit(10), derby, "K16_EVENTS", mode="overwrite")
    cat = read_query(spark, derby, derby_columns_query("K16_EVENTS"))
    return cat.select(
        F.lower(F.col("COLUMN_NAME")).alias("column_name"),
        F.trim(F.regexp_replace(F.col("DATA_TYPE"), r"\(.*\)| NOT NULL", "")).alias(
            "derby_type"
        ),
        spark_type_from_derby(F.col("DATA_TYPE")).alias("spark_type"),
        F.col("ORDINAL").cast("int").alias("ordinal"),
    )


QUERIES["k16_jdbc_catalog_scan"] = k16_jdbc_catalog_scan

ORACLE["k16_jdbc_catalog_scan"] = """
    SELECT * FROM (VALUES
      ('event_id', 'BIGINT', 'bigint', 1),
      ('ts', 'TIMESTAMP', 'timestamp', 2),
      ('event_type', 'CLOB', 'string', 3),
      ('value', 'DOUBLE', 'double', 4)
    ) AS t(column_name, derby_type, spark_type, ordinal)
"""
