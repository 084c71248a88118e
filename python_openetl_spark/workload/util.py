"""Shared helpers for workload queries."""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from python_openetl_spark.io import load_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def stream_state_partitions(
    rows_per_batch: float, *, python_state: bool = False
) -> int:
    """State-store partition count DERIVED from replay volume.

    Stateful micro-batch cost is per-partition per-batch (each
    partition of each stateful operator commits a state-store delta
    every batch), so the setting tracks STATE VOLUME — rows arriving
    per micro-batch, estimated from the staged replay manifest via
    :func:`streaming.sources.replay_rows_per_batch` — not the
    session's batch-shuffle parallelism. JVM stateful operators
    (stream-stream joins, session windows) target ~8k rows per
    partition per batch: below that the fixed commit cost per
    partition dominates (measured on the replayed fixtures: the
    identical s13 result costs 12.5/3.9/3.0 s at 32/8/4 partitions).
    Python-state operators (``applyInPandasWithState``) halve the
    target to ~4k: each partition-batch pays a Python-worker
    round-trip whose per-row cost parallelism amortizes (s11 measured
    best at 8). Rounded to a power of two, floored at 4 (minimum
    commit parallelism), capped at the session's default parallelism
    so a cluster-sized replay scales partitions up with state volume
    instead of pinning a fixture-sized constant; with no active
    session the cap is 32.
    ``SPARK_GRAFT_STREAM_STATE_PARTITIONS`` overrides for production
    tuning."""
    env = os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS")
    if env:
        return max(1, int(env))
    import math

    from pyspark.sql import SparkSession

    target = 4096 if python_state else 8192
    raw = max(1.0, float(rows_per_batch) / target)
    n = 2 ** round(math.log2(raw))
    spark = SparkSession.getActiveSession()
    cap = spark.sparkContext.defaultParallelism if spark is not None else 32
    return int(min(max(4, n), max(4, cap)))


def nonempty(sf_dir: str, name: str) -> bool:
    """Degenerate-corpus guard: is the fixture table non-empty?

    Parquet footers record exact row counts, so the check is a
    driver-side metadata read (one footer per part-file, no Spark job)
    — where the previous ``df.take(1)`` scheduled a scan job per query
    call just to decide "not empty" (guide §5: the driver should do
    almost no data work, and row-count metadata is no data at all).
    Cost is O(part files), independent of table size, so it holds at
    any scale. Falls back to a Spark ``take(1)`` when the footers
    cannot be read (exotic store layout, permissions)."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            for root, _dirs, files in os.walk(path):
                for fname in files:
                    if fname.endswith(".parquet"):
                        md = pq.ParquetFile(os.path.join(root, fname)).metadata
                        if md.num_rows > 0:
                            return True
            return False
        return pq.ParquetFile(path).metadata.num_rows > 0
    except Exception:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        return bool(load_table(spark, sf_dir, name).take(1))


def table_rows(sf_dir: str, name: str) -> int:
    """Exact fixture-table row count from parquet footers.

    Footers record exact per-file row counts, so this equals
    ``load_table(...).count()`` (load_table normalizes column types but
    never drops rows) at the cost of a driver-side metadata read instead
    of a per-call Spark count job. Used by the ANN probe queries whose
    index parameters derive from corpus size (``ivf_params(n)``) — each
    previously scheduled a full count scan per call (guide §5: row-count
    metadata is not data work). Falls back to a Spark count when the
    footers cannot be read."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            total = 0
            for root, _dirs, files in os.walk(path):
                for fname in files:
                    if fname.endswith(".parquet"):
                        total += pq.ParquetFile(
                            os.path.join(root, fname)
                        ).metadata.num_rows
            return total
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        return load_table(spark, sf_dir, name).count()


def embedding_dim(sf_dir: str, name: str = "embeddings") -> int:
    """Vector dimensionality from the first stored row, via a pyarrow
    single-batch read (one page decode, no Spark job) — the companion of
    :func:`table_rows` for the ANN probes that size PQ/IVF parameters
    from ``(n, dim)``. Falls back to a Spark ``first()``."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        files = []
        if os.path.isdir(path):
            for root, _dirs, fnames in os.walk(path):
                files.extend(
                    os.path.join(root, f) for f in fnames if f.endswith(".parquet")
                )
            files.sort()
        else:
            files = [path]
        for f in files:
            pf = pq.ParquetFile(f)
            if pf.metadata.num_rows == 0:
                continue
            batch = next(pf.iter_batches(batch_size=1, columns=["embedding"]))
            return len(batch.column("embedding")[0].as_py())
        raise ValueError(f"no rows in {path}")
    except Exception:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        return len(
            load_table(spark, sf_dir, name).select("embedding").first()[0]
        )


def corpus_key(sf_dir: str) -> tuple:
    """Memo key for per-fixture-dir caches (staged replay inputs,
    vector/postings stores, shared tower top-k): the dir path PLUS a
    fingerprint of its current file state (name, size, mtime_ns per
    file, recursing into directory-backed tables) — the same idea as a
    store manifest. A corpus mutated in place therefore MISSES the
    memo and recomputes instead of serving stale derived state; the
    immutable bench fixtures fingerprint identically every call, so
    the memo still hits. Driver-side ``os.stat`` only — no Spark job."""
    entries: list[tuple[str, int, int]] = []
    try:
        for root, dirs, files in os.walk(sf_dir):
            dirs.sort()
            for fname in sorted(files):
                p = os.path.join(root, fname)
                st = os.stat(p)
                entries.append(
                    (os.path.relpath(p, sf_dir), st.st_size, st.st_mtime_ns)
                )
    except OSError:
        return (sf_dir,)
    return (sf_dir, tuple(entries))


def dsum(col: Column | str, scale: int = 6, precision: int = 24) -> Column:
    """Exact, order-independent sum of a double column.

    Cast each value to DECIMAL before summing so the aggregate is exact
    decimal arithmetic — reproducible across partitionings and engines —
    then return DOUBLE. (A plain double SUM depends on reduction order,
    which a distributed engine does not guarantee.)
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({precision},{scale})")).cast("double")


def davg(col: Column | str, scale: int = 6) -> Column:
    """Order-independent average: exact decimal sum / count, in double."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(c.cast(f"decimal(24,{scale})")).cast("double")
        / F.count(c)
    )
