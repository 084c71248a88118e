"""SparkSession construction and tuning.

The reference manages resources by hand — chunked generators over
server-side cursors (`/root/reference/pyopenetl/connections.py:84`,
`operations.py:39-67`) and per-chunk ``gc.collect()``
(`operations.py:456-457`). On Spark all of that collapses into the
executor/partition model; what remains is session tuning: AQE for
runtime re-planning (join strategy switch, skew splitting, partition
coalescing), Arrow for any pandas interchange, and sane shuffle
parallelism.

All knobs here are cluster-safe: on a 1000-executor cluster the same
configs apply — only ``master`` and the shuffle-partition count change
(set ``spark.sql.shuffle.partitions`` to ~2-3x total cores, or leave
AQE's coalescing to trim it down from a higher initial value).

One knob depends on the master. With a ``local`` master,
:func:`get_spark` keeps partition discovery on the driver: listing
more than 32 partition directories is otherwise a Spark job, and in
local mode that job's tasks run on the driver JVM's own threads, so
it only adds scheduling. A cluster session, or one built elsewhere and
passed to :func:`tune_session`, keeps Spark's parallel listing, which
is what thousands of object-store directories need.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

#: Runtime-settable SQL confs we want on ANY session (including one
#: handed to us by an external harness). Static confs (memory, master)
#: must go through the builder instead.
RUNTIME_CONFS: dict[str, str] = {
    # The fixture `events` table carries parquet TIMESTAMP(NANOS), which
    # Spark's vectorized reader rejects; read it as epoch-nanos longs and
    # convert in io.load_table. Harmless for µs/ms timestamp columns.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic timestamp arithmetic regardless of host timezone —
    # keeps unix_timestamp()/date_trunc() aligned with the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Arrow-batched transfer for pandas UDFs / toPandas (10-100x over
    # row-at-a-time pickling).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # AQE: runtime join-strategy switching, skew-join splitting, and
    # post-shuffle partition coalescing. Essential at 100 TB, free at sf0.1.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


#: Runtime SQL confs :func:`get_spark` adds when the resolved master is
#: ``local``/``local[...]``, however it was given (argument, default,
#: or SPARK_MASTER); see the module docstring for why a cluster or
#: externally-built session keeps Spark's defaults.
LOCAL_MODE_CONFS: dict[str, str] = {
    # list partition directories on the driver, never in a Spark job
    # (~0.5 s per read of a 64-cell IVF store at the default of 32)
    "spark.sql.sources.parallelPartitionDiscovery.threshold": str(2**31 - 1),
}


def default_parallelism() -> int:
    """Worker-thread count for local mode: $SPARK_GRAFT_CPUS or cpu count."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 4


def scan_parallelism(df) -> int:
    """Partition count for pre-compute repartitions (parallelize hashing
    /tokenizing after a few-file scan).

    Cluster-aware: the max of the cluster's total core count
    (``sparkContext.defaultParallelism``) and the session's shuffle
    partitions — NOT the driver-local cpu count, which would cap a
    1000-core cluster's scan fan-out at the driver's core count.
    Falls back to :func:`default_parallelism` in degenerate configs.
    """
    spark = df.sparkSession
    try:
        cores = int(spark.sparkContext.defaultParallelism)
    except Exception:
        cores = 0
    try:
        shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "0"))
    except Exception:
        shuffle = 0
    return max(cores, shuffle) or default_parallelism()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent).

    Used both by :func:`get_spark` and by the entry points that receive
    an externally-built session.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A conf may be static/locked on some deployments; the engine
            # degrades gracefully (io.load_table handles both ns paths).
            pass
    return spark


def get_spark(
    app_name: str = "python_openetl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or get) a tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for tests/bench;
    on a real cluster pass ``None`` with a cluster master pre-configured,
    or set it via spark-submit.
    """
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cores, 8)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # Scratch placement note (r12 adjudication): spark.local.dir is
    # deliberately left at the platform default. A tmpfs (/dev/shm)
    # default was trialed against this box's virtualized-disk write-
    # latency jitter (multi-second swings on checkpoint-heavy queries,
    # e.g. d40_pagerank) and REVERTED on A/B evidence: same box,
    # minutes apart, tmpfs scratch made the state-store/streaming and
    # Arrow-heavy rows 2-4x slower (s11 4.8 s disk vs 11.6 s tmpfs,
    # m17 1.3 vs 2.1, mm08 0.97 vs 1.95) while showing no reliable
    # win for d40 on an idle box — RAM-backed scratch competes with
    # the JVM heap and OS page cache for the same pages. Operators
    # control their own footprint instead (pagerank unpersists and
    # bounds checkpoints); deployments with genuinely fast local disks
    # set SPARK_LOCAL_DIRS as usual.
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cores}]")
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = tune_session(builder.getOrCreate())
    if re.fullmatch(r"local(\[.*\])?", spark.sparkContext.master):
        for k, v in LOCAL_MODE_CONFS.items():
            spark.conf.set(k, v)
    return spark
