"""Multi-table atomic publish — the engine's restatement of the
reference's TRANSACTION scope (the reference wraps each pipeline's
multi-statement load in one Postgres transaction,
`/root/reference/pyopenetl/operations.py:404-474`; a lakehouse engine
needs the same all-or-nothing guarantee when one logical update spans
several tables — e.g. a fact table and its rollups must never be
visible from different versions).

Two-phase publish over ``ParquetTable``'s swap protocol
(:func:`plans.commit.swap_in`; ``plans/commit.py`` states the
filesystem contract it relies on):

1. **Prepare** — every DataFrame is fully materialized to its staging
   directory. All the compute and all the I/O failure surface lives
   here; nothing published yet, a crash leaves only garbage stagings.
2. **Commit** — per-table directory swaps, in order. If any swap
   fails, every already-swapped table is rolled back to its backup
   before the error propagates — readers never observe a mixed
   version. The commit window is a handful of directory renames
   (milliseconds, data-size-independent), which is what makes the
   race window acceptable on plain parquet; a real multi-table
   catalog commit (Delta/Iceberg + a catalog) slots in behind this
   same function without touching callers.

Readers racing a commit can still observe table A new / table B old
BETWEEN two renames (rename pairs are not globally atomic) — same
contract as HDFS-style output committers; the guarantee here is about
FAILURE atomicity: no crash leaves a mixed state behind.
"""

from __future__ import annotations

import os  # noqa: F401 -- tests inject swap failures via txn.os.rename
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame

from python_openetl_spark.plans.commit import swap_in, undo_swap
from python_openetl_spark.plans.pipelines import ParquetTable, write_staging


@dataclass
class Publish:
    table: ParquetTable
    df: DataFrame
    partition_by: list[str] | None = None


def publish_all(publishes: list[Publish]) -> None:
    """Atomically publish every (table, df) pair: all visible or none.

    See module docstring for the two-phase protocol and its guarantees.
    """
    stagings: list[tuple[Publish, str]] = []
    try:
        # phase 1: materialize everything; no table touched yet
        for p in publishes:
            staging = f"{p.table.path}.txn-{uuid.uuid4().hex[:8]}"
            write_staging(p.df, staging, p.partition_by)
            stagings.append((p, staging))
    except Exception:
        # a failed write_staging already removed its own directory
        for _p, s in stagings:
            shutil.rmtree(s, ignore_errors=True)
        raise

    # phase 2: swap all, rolling back completed swaps on any failure
    done: list[tuple[str, str | None]] = []  # (path, backup)
    try:
        for p, staging in stagings:
            done.append((p.table.path, swap_in(staging, p.table.path)))
    except BaseException:
        for path, backup in reversed(done):
            undo_swap(path, backup)
        for _p, staging in stagings:
            shutil.rmtree(staging, ignore_errors=True)
        raise
    for _path, backup in done:
        if backup:
            shutil.rmtree(backup, ignore_errors=True)
