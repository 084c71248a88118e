"""Streaming sources for tests/demos: replay a batch table as a
file-based stream.

Structured Streaming's file source treats each new file in a directory
as a micro-batch increment; replaying the fixture ``events`` table as N
chunk files (optionally out of event-time order) exercises watermarks,
late data, and stateful windows exactly like a live stream, while
staying deterministic. ``maxFilesPerTrigger=1`` + ``availableNow``
yields one micro-batch per chunk and a clean shutdown.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def stage_replay_dir(
    df: DataFrame,
    path: str,
    *,
    chunks: int = 4,
    order_col: str = "event_id",
    shuffle_time_order: bool = True,
) -> str:
    """Write ``df`` as ``chunks`` parquet files to ``path``.

    With ``shuffle_time_order`` the chunking key is a hash of the order
    column rather than event time, so every micro-batch contains a mix
    of old and new timestamps — the out-of-order arrival pattern that
    watermark logic must handle (SURVEY §5 test strategy #4).
    """
    os.makedirs(path, exist_ok=True)
    chunk = (
        F.crc32(F.col(order_col).cast("string")) % chunks
        if shuffle_time_order
        else F.ntile(chunks).over(Window.orderBy(order_col)) - 1
    )
    staged = df.withColumn("__chunk", chunk)
    for i in range(chunks):
        staged.filter(F.col("__chunk") == i).drop("__chunk").coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(path, f"chunk={i}"))
    return path


def replay_rows_per_batch(path: str) -> float:
    """Rows per micro-batch of a staged replay dir: total parquet rows
    divided by the number of part files (one file = one micro-batch
    under ``maxFilesPerTrigger=1``). Footer-only pyarrow reads on the
    driver — no Spark job — so stateful queries can size their state
    partitions from the staged manifest itself."""
    import pyarrow.parquet as pq

    from python_openetl_spark.io import parquet_files

    files = parquet_files(path)
    if not files:
        return 0.0
    total = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return total / len(files)


def read_file_stream(spark: SparkSession, path: str, schema) -> DataFrame:
    """File-source stream over a staged replay directory, one file per
    micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )


def read_rate_stream(
    spark: SparkSession, *, rows_per_second: int = 100, num_partitions: int | None = None
) -> DataFrame:
    """Built-in rate source (columns: timestamp, value) — the
    load-generator counterpart to the file replay source, for throughput
    tests and demos of continuously-running queries."""
    reader = spark.readStream.format("rate").option("rowsPerSecond", str(rows_per_second))
    if num_partitions is not None:
        reader = reader.option("numPartitions", str(num_partitions))
    return reader.load()
