"""Fixture / table IO.

Loads the driver's deterministic parquet tables
(``/root/testdata/sf*/{name}.parquet``; see TESTDATA.md) and registers
them as temp views so both the DataFrame API and ``spark.sql`` paths
work. This is the engine's Parquet *source* — the Spark-native
replacement for the reference's chunked full-table scans
(`/root/reference/pyopenetl/operations.py:39-67`): ``spark.read.parquet``
already gives partitioned, column-pruned, predicate-pushed scans, so no
chunk loop exists.

Timestamp normalization — the engine's canonical temporal type is
``TIMESTAMP`` (instant/LTZ) under a pinned UTC session timezone:

* parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it; with
  ``spark.sql.legacy.parquet.nanosAsLong=true`` (set by
  session.tune_session) it arrives as epoch-nanos LongType and we
  convert via integer division to micros — the same truncation DuckDB
  applies, so oracle comparisons agree.
* parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 infers
  ``TIMESTAMP_NTZ`` (``spark.sql.parquet.inferTimestampNTZ.enabled``
  defaults true). NTZ breaks instant-based expressions outright
  (``unix_micros``, ``CAST(ts AS BIGINT)`` range frames), so we cast to
  ``timestamp_ltz``. Because tune_session pins the session timezone to
  UTC, the cast reinterprets the naive wall clock as UTC — value-
  identical to DuckDB reading the same naive column.

Both conversions happen executor-side inside the scan projection (no
driver materialization), so they scale to any table size.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from python_openetl_spark.session import tune_session

#: The full fixture set (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def _nano_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) (from the file footer)."""
    try:
        schema = pq.read_schema(_one_parquet_file(path))
    except Exception:
        return []
    cols = []
    for field in schema:
        t = field.type
        if str(t).startswith("timestamp[ns"):
            cols.append(field.name)
    return cols


def parquet_files(path: str) -> list[str]:
    """Every ``.parquet`` part file of a table, sorted: a directory is
    walked recursively (partition subdirs included), skipping the
    ``_``/``.``-prefixed names Spark's reader also ignores; a plain
    file path is its own one-element list."""
    if not os.path.isdir(path):
        return [path]
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        files += [
            os.path.join(root, n)
            for n in names
            if n.endswith(".parquet") and not n.startswith(("_", "."))
        ]
    return sorted(files)


def _one_parquet_file(path: str) -> str:
    if os.path.isdir(path):
        for name in sorted(os.listdir(path)):
            if name.endswith(".parquet"):
                return os.path.join(path, name)
    return path


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalizing nanosecond timestamps."""
    tune_session(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    for col in _nano_timestamp_columns(path):
        field = df.schema[col] if col in df.columns else None
        if field is not None and isinstance(field.dataType, T.LongType):
            # epoch nanos → micros. Integer `div`, NOT floor(x/1000): the
            # double division loses precision at epoch-nano magnitude
            # (2^53 < 1.7e18), which showed up as ±1µs vs DuckDB's cast.
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)]
    if ntz:
        # Canonicalize NTZ → instant under the pinned UTC session TZ (see
        # module docstring). Explicit "timestamp_ltz": a bare "timestamp"
        # cast tracks spark.sql.timestampType and could be a no-op NTZ.
        df = df.select(
            *[
                F.col(c).cast("timestamp_ltz").alias(c) if c in ntz else F.col(c)
                for c in df.columns
            ]
        )
    return df


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load fixture tables and register each as a temp view for spark.sql."""
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
