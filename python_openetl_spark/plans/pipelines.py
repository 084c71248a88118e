"""Pipeline verbs — the engine's equivalents of the reference's three
entry points (SURVEY §3): seed (snapshot replication), upsert-sync
(incremental maintenance), and flat-file ingestion.

Each verb composes the pure operators in ``operators.merge`` with an
atomic parquet write. Where the reference hand-manages chunk loops,
cursors, staging tables, and GC (`/root/reference/pyopenetl/operations.py:
404-474,688-730`), the Spark restatement is a declarative read →
transform → atomic overwrite: partitioning replaces chunking, the write
commit protocol replaces transactions, and write-layout options replace
the post-load index replication (`operations.py:461-484`).
"""

from __future__ import annotations

import json
import os
import shutil
import tarfile
import tempfile
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from python_openetl_spark.functions.normalize import normalize_timestamps
from python_openetl_spark.operators.merge import merge_upsert, temporal_delta
from python_openetl_spark.plans.commit import swap_in


#: Hive's null-partition directory token.
_HIVE_NULL_PART = "__HIVE_DEFAULT_PARTITION__"


def _unescape_part_value(s: str) -> str | None:
    """Invert hive partition-path escaping (%XX percent-codes)."""
    if s == _HIVE_NULL_PART:
        return None
    out, i = [], 0
    while i < len(s):
        if s[i] == "%" and i + 3 <= len(s):
            try:
                out.append(chr(int(s[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(s[i])
        i += 1
    return "".join(out)


def write_staging(
    df: DataFrame, staging: str, partition_by: list[str] | None
) -> None:
    """Materialize ``df`` into a staging directory with the 0-row
    schema-file convention: a zero-row PARTITIONED write emits no data
    files at all, so a later read couldn't infer the schema — append
    one empty root-level file carrying the full schema (including the
    partition columns as regular columns). Shared by the
    ``ParquetTable`` and ``VersionedTable`` stage steps and
    ``plans.txn.publish_all``. A failed write removes the staging
    directory before the error propagates, so it leaves no debris."""
    try:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)
        if partition_by and not any(
            name.endswith(".parquet")
            for _dir, _sub, files in os.walk(staging)
            for name in files
        ):
            df.limit(0).write.mode("append").parquet(staging)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise


def _list_partition_dirs(
    root: str, partition_by: list[str]
) -> list[tuple[str, list[str | None]]]:
    """Leaf hive-partition directories under ``root``:
    ``(relative_path, [value per partition column])`` — string values
    as written (unescaped), None for the hive null token. Pure
    directory metadata; no data file is opened."""
    out: list[tuple[str, list[str | None]]] = []

    def walk(d: str, depth: int, rel: list[str], vals: list[str | None]) -> None:
        if depth == len(partition_by):
            out.append(("/".join(rel), vals))
            return
        prefix = f"{partition_by[depth]}="
        if not os.path.isdir(d):
            return
        for name in sorted(os.listdir(d)):
            full = os.path.join(d, name)
            if name.startswith(prefix) and os.path.isdir(full):
                walk(
                    full,
                    depth + 1,
                    rel + [name],
                    vals + [_unescape_part_value(name[len(prefix):])],
                )

    walk(root, 0, [], [])
    return out


@dataclass
class SyncMetrics:
    """Run report, mirroring the reference's JSON summary
    (/root/reference/pyopenetl/operations.py:601-609)."""

    rows_added: int
    rows_deleted: int
    execution_duration: float
    execution_date: str

    def to_json(self) -> str:
        return json.dumps(self.__dict__)


class ParquetTable:
    """A parquet-directory table with atomic overwrite.

    Plain parquet has no transactional MERGE, so mutation = rewrite +
    swap: write the new version to a staging dir and swap it in
    (``plans.commit.swap_in``: POSIX rename is atomic per path). On an
    object store you'd swap this class for a Delta/Iceberg table and
    keep every operator unchanged — they are pure DataFrame functions.
    """

    def __init__(self, path: str):
        self.path = path

    def exists(self) -> bool:
        return os.path.exists(self.path)

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)

    def overwrite(self, df: DataFrame, partition_by: list[str] | None = None) -> None:
        self.publish(self.stage(df, partition_by))

    def stage(self, df: DataFrame, partition_by: list[str] | None = None) -> str:
        """Write ``df`` fully to a new staging directory beside the
        table and return its path; the table is untouched. Safe even
        when ``df`` reads from this table, since staging != source."""
        staging = f"{self.path}.staging-{uuid.uuid4().hex[:8]}"
        write_staging(df, staging, partition_by)
        return staging

    def publish(self, staging: str) -> None:
        """Swap a directory made by :meth:`stage` in as the table."""
        backup = swap_in(staging, self.path)
        if backup:
            shutil.rmtree(backup, ignore_errors=True)

    def drop(self) -> None:
        """DROP TABLE IF EXISTS parity (/root/reference/pyopenetl/operations.py:357-366)."""
        shutil.rmtree(self.path, ignore_errors=True)

    def overwrite_where(
        self,
        df: DataFrame,
        predicate: str,
        partition_by: list[str] | None = None,
        validate: bool = True,
    ) -> None:
        """Replace only the slice matching ``predicate`` (Delta
        ``replaceWhere`` semantics): final table = existing rows NOT
        matching the predicate + ``df``. With ``validate`` (default), a
        ``df`` row that does NOT match the predicate raises ValueError
        — the Delta contract that stops a backfill from silently
        leaking rows outside its target slice.

        The reference's closest verb is the delete-window + re-append
        update path (/root/reference/pyopenetl/operations.py:539-560);
        this is its set-based generalization.

        Execution picks the cheapest safe path:

        - **Dynamic-partition path** (the 100 TB shape — Spark's
          ``partitionOverwriteMode=dynamic``, restated over this
          table's swap protocol): when the table is laid out
          partitioned by ``partition_by`` AND the predicate references
          ONLY partition columns, only the touched partition
          directories are rewritten — cost scales with the replaced
          slice, untouched partitions stay byte-identical on disk, and
          deciding which partitions match is pure directory metadata
          (no data file is even opened on the kept side). Within a
          partition the predicate is constant (all rows share the
          partition values), so partition-level replacement IS the
          row-level semantics.
        - **Full staged rewrite** otherwise: kept rows = filter scan
          (never shuffled) unioned with ``df``, then the atomic
          whole-table swap.

        Durability: the full rewrite swaps one directory rename
        (atomic). The dynamic path renames per touched partition —
        atomic per partition but not across them, the same contract as
        Spark's own dynamic partition overwrite on plain parquet; a
        Delta/Iceberg manifest commit is the transactional upgrade and
        slots in behind this same method.
        """
        if validate:
            # NULL-evaluating rows do NOT satisfy the predicate either
            # (r10 review: plain NOT(pred) lets them slip through)
            bad = df.filter(f"NOT ({predicate}) OR ({predicate}) IS NULL").limit(21)
            n_bad = bad.count()
            if n_bad:
                raise ValueError(
                    f"overwrite_where: {n_bad}{'+' if n_bad > 20 else ''} "
                    f"replacement rows violate predicate {predicate!r}"
                )
        if not self.exists():
            self.overwrite(df, partition_by=partition_by)
            return
        spark = df.sparkSession
        if (
            partition_by
            and self._has_partition_layout(partition_by)
            and self._predicate_is_partition_only(spark, predicate, partition_by)
        ):
            self._overwrite_partitions(df, predicate, partition_by)
            return
        # keep rows NOT matching the predicate INCLUDING NULL-evaluating
        # rows (r10 review: filter("NOT (pred)") drops rows where pred is
        # NULL — an x=NULL row would be silently deleted by an x>5
        # overwrite; the dynamic path's directory-meta filter keeps NULL
        # partitions, so this also keeps the two paths in agreement)
        kept = self.read(spark).filter(
            f"NOT ({predicate}) OR ({predicate}) IS NULL"
        )
        self.overwrite(kept.unionByName(df), partition_by=partition_by)

    def _has_partition_layout(self, partition_by: list[str]) -> bool:
        """True iff the on-disk layout is hive-partitioned by EXACTLY
        ``partition_by`` — every data file under the first-level
        ``col0=`` dirs sits at depth ``len(partition_by)`` with the
        expected column at each level. Checking only the first column
        (the pre-r10 behavior) let a deeper/shallower ``partition_by``
        take the dynamic path against a mismatched layout: the clear
        step then found no leaves (stale predicate-matching rows
        survived) and the rename step nested mismatched-depth dirs into
        the table — Spark's 'Conflicting directory structures' error on
        the next read. A mismatch now falls through to the full staged
        rewrite, which atomically REPLACES the whole layout."""
        prefix = f"{partition_by[0]}="
        tops = [
            name
            for name in os.listdir(self.path)
            if name.startswith(prefix)
            and os.path.isdir(os.path.join(self.path, name))
        ]
        if not tops:
            return False
        want = len(partition_by)
        for top in tops:
            for dirpath, _dirs, files in os.walk(os.path.join(self.path, top)):
                if not any(name.endswith(".parquet") for name in files):
                    continue
                rel = os.path.relpath(dirpath, self.path)
                parts = rel.split(os.sep)
                if len(parts) != want or any(
                    not p.startswith(f"{c}=")
                    for p, c in zip(parts, partition_by)
                ):
                    return False
        return True

    def _predicate_is_partition_only(
        self, spark: SparkSession, predicate: str, partition_by: list[str]
    ) -> bool:
        """True iff ``predicate`` resolves against the partition columns
        alone (analysis is eager: referencing a data column raises).

        The probe is a standalone empty frame carrying ONLY the
        partition columns — filtering a ``select(...)`` projection would
        not work: Catalyst's ResolveMissingReferences re-adds projected-
        away child columns for Filter, silently resolving data columns.
        """
        schema = self.read(spark).select(*partition_by).schema
        try:
            spark.createDataFrame([], schema).filter(predicate)
            return True
        except Exception:
            return False

    def _overwrite_partitions(
        self, df: DataFrame, predicate: str, partition_by: list[str]
    ) -> None:
        """Replace only the partitions matching ``predicate`` (cleared)
        plus those present in ``df`` (rewritten) — see overwrite_where.

        The partitions-to-clear set is decided WITHOUT opening any data
        file: the hive directory names are parsed back to typed
        partition values and the predicate is evaluated on that tiny
        in-memory frame with full Spark semantics. Reusing the directory
        names (rather than re-deriving escaped paths from values) also
        makes the clear-side renames immune to escaping mismatches.
        """
        spark = df.sparkSession
        ptypes = {
            f.name: f.dataType
            for f in self.read(spark).select(*partition_by).schema.fields
        }
        on_disk = _list_partition_dirs(self.path, partition_by)
        if on_disk:
            meta = spark.createDataFrame(
                [(rel, *vals) for rel, vals in on_disk],
                ", ".join(["__rel string"] + [f"`{c}` string" for c in partition_by]),
            ).select(
                "__rel",
                *[F.col(c).cast(ptypes[c]).alias(c) for c in partition_by],
            )
            clear_rels = {r["__rel"] for r in meta.filter(predicate).collect()}
        else:
            clear_rels = set()

        staging = f"{self.path}.staging-{uuid.uuid4().hex[:8]}"
        try:
            df.write.mode("overwrite").partitionBy(*partition_by).parquet(staging)
            new_rels = {rel for rel, _ in _list_partition_dirs(staging, partition_by)}
            for rel in sorted(clear_rels | new_rels):
                backup = swap_in(
                    os.path.join(staging, rel), os.path.join(self.path, rel)
                )
                if backup:
                    shutil.rmtree(backup, ignore_errors=True)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        # clearing every partition with nothing new can leave a table no
        # reader can infer a schema from: keep one empty schema file
        if not any(
            name.endswith(".parquet")
            for _d, _s, files in os.walk(self.path)
            for name in files
        ):
            df.limit(0).write.mode("append").parquet(self.path)

    def compact(
        self,
        spark: SparkSession,
        *,
        num_files: int | None = None,
        target_rows_per_file: int | None = None,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> int:
        """Rewrite the table into ``num_files`` files (or sized by
        ``target_rows_per_file``), atomically. Returns the file count.

        The small-files problem is the chronic failure mode of
        incremental pipelines (every merge_upsert/foreachBatch commit
        adds files; scans then drown in per-file open costs). With
        ``sort_by``, rows are range-partitioned and sorted within files,
        so parquet row-group min/max statistics prune scans on those
        columns — the Spark analogue of the reference's rebuild-indexes-
        after-load step (/root/reference/pyopenetl/operations.py:461-471).
        """
        df = self.read(spark)
        if num_files is None:
            rows = df.count()
            per = max(1, int(target_rows_per_file or 1_000_000))
            num_files = max(1, -(-rows // per))
        if zorder_by:
            # multi-column skipping: files cover small hyper-rectangles in
            # every z-ordered dimension (see plans/zorder.py)
            from python_openetl_spark.plans.zorder import zorder_layout

            out = zorder_layout(df, zorder_by, num_files=num_files)
        elif sort_by:
            out = df.repartitionByRange(num_files, *sort_by).sortWithinPartitions(*sort_by)
        else:
            out = df.repartition(num_files)
        self.overwrite(out)
        return sum(
            1
            for name in os.listdir(self.path)
            if name.endswith(".parquet")
        )


def seed(
    df: DataFrame,
    dest: "str | ParquetTable | VersionedTable",
    *,
    normalize: bool = True,
    partition_by: list[str] | None = None,
    sort_within_partitions: list[str] | None = None,
    expected_version: int | None = None,
):
    """Snapshot replication (C1, /root/reference/pyopenetl/operations.py:404-474).

    drop → normalize (*_at timestamp coercion) → atomic overwrite. The
    reference's post-load index replication becomes write layout:
    ``partition_by`` → partition pruning, ``sort_within_partitions`` →
    parquet min/max row-group skipping. At 100 TB choose the partition
    column to match the dominant filter (e.g. event date).

    ``dest`` may be a :class:`plans.versioned.VersionedTable` (r12):
    the snapshot then publishes as a new version via the atomic-pointer
    commit, and ``expected_version`` opts into the optimistic-
    concurrency check (a racer's commit in between raises
    ``ConcurrentCommitError`` instead of silently clobbering).
    ``expected_version`` on the plain swap path is a ValueError — the
    ParquetTable protocol has no version to compare against, and
    silently ignoring the caller's concurrency expectation would be
    worse than failing.
    """
    from python_openetl_spark.plans.versioned import VersionedTable

    out = normalize_timestamps(df) if normalize else df
    if sort_within_partitions:
        out = out.sortWithinPartitions(*sort_within_partitions)
    if isinstance(dest, VersionedTable):
        dest.commit(out, partition_by, expected_version=expected_version)
        return dest
    if expected_version is not None:
        raise ValueError(
            "seed(expected_version=...) requires a VersionedTable "
            "destination — the ParquetTable swap protocol is blind "
            "single-writer and cannot check a version"
        )
    table = dest if isinstance(dest, ParquetTable) else ParquetTable(dest)
    table.overwrite(out, partition_by=partition_by)
    return table


def upsert_sync(
    spark: SparkSession,
    source: DataFrame,
    dest: "str | ParquetTable | VersionedTable",
    *,
    pk: str = "id",
    ts_col: str = "updated_at",
    anchor=None,
    data_interval_hours: int = 1,
    propagate: bool = True,
    table_format: str = "parquet",
    expected_version: int | None = None,
) -> SyncMetrics:
    """Incremental maintenance (C2, /root/reference/pyopenetl/operations.py:515-609):
    delta read (R5) → MERGE upsert (R8) → delete propagation (R9) →
    metrics (R15).

    ``anchor`` fixes the reference's NOW() for reproducibility; pass
    None to use the current wall clock.

    On the engine's own formats the verb is ONE Spark action: the
    composed merge plan is written once, to a staging directory, and
    the report counts are ``DataFrame.observe`` metrics of that same
    job. Publication is decided after the job from those counts: the
    staging copy is swapped in (ParquetTable) or committed as the next
    version (VersionedTable), or, when both counts are 0, discarded —
    the table stays untouched and no version is created (parity with
    the empty-delta skip, `operations.py:703-705`). A no-change sync
    therefore costs one discarded staging write rather than the two
    count scans a count-then-write sequence makes. Observed metrics
    can only over-count (a retried task or stage may add its rows
    twice), never under-count, so the worst a retry can cause is a
    republish of identical rows, never a skipped change.

    The counts are observed at one node, just below the filter that
    drops the deleted rows: each merged row carries how many raw delta
    rows it stands for (the dedupe keeps one per pk) and whether its
    pk is still in the source (null pks never are). Observing the
    delta and the merge's inputs directly would be fragile: when one
    side of a join is empty, Spark prunes the other side from the plan
    and its observed metrics with it (a sync against an empty source
    then has no ``count(merged)``).

    ``table_format="delta"`` routes through Delta Lake's transactional
    ``MERGE INTO`` / ``whenNotMatchedBySourceDelete``
    (plans/delta_sink.py) — the concurrency-safe answer the staged-swap
    parquet path cannot give; import-gated, raising with the production
    coordinate when delta-spark is absent (r10 verdict #5). ``dest``
    must be a path string on that route.

    A :class:`plans.versioned.VersionedTable` ``dest`` (r12) makes the
    verb concurrency-safe END-TO-END on the engine's own format: the
    merge base is the snapshot this call binds at entry (or the
    explicit ``expected_version``), and the publish is a
    compare-and-set against it — a racer that committed in between
    raises ``ConcurrentCommitError`` (the staging copy is discarded)
    and the caller simply re-runs ``upsert_sync`` against the fresh
    table (the Delta conflict loop; there is no blind-commit mode on
    this route because merge-then-publish over a stale base silently
    undoes the racer's rows). ``expected_version`` with a plain
    ParquetTable dest is a ValueError, matching :func:`seed`.
    """
    if table_format == "delta":
        from python_openetl_spark.plans.delta_sink import upsert_sync_delta

        if isinstance(dest, ParquetTable):
            raise ValueError(
                "upsert_sync(table_format='delta'): pass the destination "
                "path, not a ParquetTable"
            )
        return upsert_sync_delta(
            spark,
            source,
            dest,
            pk=pk,
            ts_col=ts_col,
            anchor=anchor,
            data_interval_hours=data_interval_hours,
            propagate=propagate,
        )
    if table_format != "parquet":
        raise ValueError(f"upsert_sync: unknown table_format {table_format!r}")
    from python_openetl_spark.plans.versioned import VersionedTable

    t0 = time.time()
    versioned = isinstance(dest, VersionedTable)
    if versioned:
        table = dest
        base_version = (
            expected_version
            if expected_version is not None
            else dest.current_version()
        )
        if base_version is None:
            raise ValueError(
                "upsert_sync: VersionedTable destination has no committed "
                "version yet — run seed() first (or commit an empty "
                "version 1 explicitly) so the merge has a base snapshot"
            )
        target = dest.read(spark, version=base_version)
    else:
        if expected_version is not None:
            raise ValueError(
                "upsert_sync(expected_version=...) requires a "
                "VersionedTable destination — the ParquetTable swap "
                "protocol is blind single-writer and cannot check a "
                "version"
            )
        table = dest if isinstance(dest, ParquetTable) else ParquetTable(dest)
        target = table.read(spark)

    if anchor is None:
        anchor = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime())
    # __added: raw delta rows per merged row; __live: pk still in source
    delta = temporal_delta(source, ts_col, anchor, data_interval_hours)
    delta = delta.withColumn("__added", F.count(F.lit(1)).over(Window.partitionBy(pk)))
    merged = merge_upsert(
        target.withColumn("__added", F.lit(0)), delta, pk, order_col=ts_col
    )
    deleted = F.lit(False)
    if propagate:
        live = source.select(pk).distinct().withColumn("__live", F.lit(True))
        merged = merged.join(live, on=pk, how="left")
        deleted = F.col("__live").isNull()
    report = Observation()
    merged = merged.observe(
        report, F.sum("__added").alias("added"), F.count_if(deleted).alias("deleted")
    )
    staging = table.stage(merged.filter(~deleted).select(*target.columns))
    # rows_added = upserted delta rows, matching the reference's report
    # (rows_added: df.shape[0], /root/reference/pyopenetl/operations.py:601-609)
    counts = report.get
    rows_added, rows_deleted = counts["added"] or 0, counts["deleted"]
    if not (rows_added or rows_deleted):
        shutil.rmtree(staging, ignore_errors=True)
    elif versioned:
        table.publish(staging, expected_version=base_version)
    else:
        table.publish(staging)

    return SyncMetrics(
        rows_added=rows_added,
        rows_deleted=rows_deleted,
        execution_duration=round(time.time() - t0, 3),
        execution_date=time.strftime("%Y-%m-%d"),
    )


def derive_table_name(member_name: str, prefix: str = "cb_") -> str:
    """`f"cb_{name.split('.')[0]}"` — the reference's tarball-member →
    table-name rule (/root/reference/pyopenetl/operations.py:662-672)."""
    base = os.path.basename(member_name)
    return f"{prefix}{base.split('.')[0]}"


def ingest_tarball(
    spark: SparkSession,
    tar_path: str,
    dest_dir: str,
    *,
    allowlist: set[str] | None = None,
    prefix: str = "cb_",
    normalize: bool = True,
) -> dict[str, ParquetTable]:
    """Flat-file ingestion (C3, /root/reference/pyopenetl/operations.py:634-686):
    untar (driver-side — Spark has no tar reader) → per-member
    ``spark.read.csv`` with header+schema inference → seed each table.

    The per-member loads are independent Spark jobs (disjoint sources
    and destinations), so they submit from a small thread pool — the
    next member's inference/seed tasks back-fill cores freed by the
    current member's write tail instead of idling behind it (the k12
    registry-dispatch pattern). Members whose names derive the SAME
    table name (``2024/users.csv`` vs ``2025/users.csv``) are deduped
    before dispatch, keeping the last occurrence in walk order — the
    sequential loop's last-wins outcome — because two pool workers
    racing ``seed()`` against one destination would collide inside
    ``overwrite()``'s single-writer rename swap. For distinct derived
    names, results and table contents are identical to the sequential
    loop; only job overlap changes. On a member failure, other
    in-flight members may still complete before the exception
    propagates. Remote URLs: fetch to a local temp file first (the
    reference streams the HTTP body the same way,
    `operations.py:645-652`).
    """
    from concurrent.futures import ThreadPoolExecutor

    with tempfile.TemporaryDirectory() as tmp:
        with tarfile.open(tar_path) as tf:
            tf.extractall(tmp, filter="data")
        # dict insertion-overwrite dedupes colliding table names to the
        # LAST walk-order occurrence; _dirs sorted in place so the walk
        # order (and therefore which member wins) is deterministic
        by_name: dict[str, str] = {}  # table name -> csv path
        for root, _dirs, files in os.walk(tmp):
            _dirs.sort()
            for fname in sorted(files):
                if not fname.endswith(".csv"):
                    continue
                tname = derive_table_name(fname, prefix)
                if allowlist is not None and tname not in allowlist:
                    continue
                by_name[tname] = os.path.join(root, fname)
        members: list[tuple[str, str]] = [(p, n) for n, p in by_name.items()]

        def _ingest_one(member: tuple[str, str]) -> tuple[str, ParquetTable]:
            path, tname = member
            df = (
                spark.read.option("header", True)
                .option("inferSchema", True)
                .csv(path)
            )
            return tname, seed(df, os.path.join(dest_dir, tname), normalize=normalize)

        # 2-3 jobs in flight is enough to fill the tail without the
        # members fighting each other for executors (guide §2.6)
        with ThreadPoolExecutor(max_workers=min(3, max(1, len(members)))) as pool:
            out: dict[str, ParquetTable] = dict(pool.map(_ingest_one, members))
    return out


def compact_table(
    spark: SparkSession, path: str, *, target_rows_per_file: int = 1_000_000
) -> dict:
    """Small-files compaction: rewrite a parquet directory into
    ``ceil(rows / target_rows_per_file)`` files via the same atomic
    staging swap as :meth:`ParquetTable.overwrite` — readers see the
    fragmented or the compacted table, never a mix.

    The small-files problem is the classic long-running-ingest failure
    at scale (every streaming micro-batch / append lands a sliver; a
    year later the scan spends more time opening files than reading
    bytes); compaction is the explicit, schedulable repair, the same
    lifecycle role as versioned/IVF vacuum. At 100 TB you'd set
    ``target_rows_per_file`` from the row width to land near the
    128 MB-1 GB sweet spot and run per partition.

    Returns ``{"n_rows", "files_before", "files_after"}``."""
    import math

    def _count_files(p: str) -> int:
        return sum(
            1
            for _dir, _sub, files in os.walk(p)
            for name in files
            if name.endswith(".parquet")
        )

    table = ParquetTable(path)
    before = _count_files(path)
    df = table.read(spark)
    n = df.count()
    n_files = max(1, math.ceil(n / max(1, target_rows_per_file)))
    if before > 0 and n_files >= before:
        # already at or below the target file count: compaction only
        # ever MERGES — rewriting here would split files, so no-op
        return {
            "n_rows": n,
            "files_before": before,
            "files_after": before,
            "rewritten": False,
        }
    table.overwrite(df.repartition(n_files))
    return {
        "n_rows": n,
        "files_before": before,
        "files_after": _count_files(path),
        "rewritten": True,
    }
