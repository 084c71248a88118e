"""The generational-store protocol: the one commit, lock, generation,
pin, tombstone, rebuild and vacuum mechanism under every persisted
index (operators/ivf_store.py, operators/ivfpq_store.py,
operators/postings_store.py). Each store keeps its own layout inside
a version directory (IVF cells and centroids, PQ codebooks, postings
buckets); the protocol never asks which store it serves.

Layout::

    root/_current.json            {"version": N}: the one commit point
    root/v0000000N/...            one immutable version per build/rebuild
    root/v0000000N/_write.lock    held by the version's one writer
    root/v0000000N/_seq.json      {"seq": S}: the write-generation counter
    root/v0000000N/_schema.json   pinned read schema of each directory
    root/v0000000N/deleted/       (id, seq) tombstones

- **Commit.** A version is live once ``_current.json`` names it (one
  ``os.replace``, :func:`plans.commit.write_json`): a reader sees the
  old or the new version, never a torn pointer. A reader resolves the
  pointer once per query (:func:`current_index_dir`) and reads only
  that version, so a rebuild committing mid-query cannot mix versions.
- **Lock.** Every write (append, tombstone, rebuild) holds the
  version's ``_write.lock`` for its whole length: two concurrent
  ``write.mode("append")`` jobs into one directory share the
  FileOutputCommitter ``_temporary`` staging dir, so one job's commit
  or cleanup can drop or double-commit the other's files. A writer
  resolves the pointer, takes the lock and checks the pointer again;
  if a rebuild committed while it waited, it retries on the new
  version, so no write lands in a superseded directory
  (:func:`_locked`). The lock times out after
  ``SPARK_GRAFT_STORE_LOCK_TIMEOUT`` seconds (default 120, sized for a
  real parquet append); a crashed holder fails loud and its lock file
  is removed by hand (the plans/commit.py contract). Readers never
  take the lock.
- **Generations.** Each append is a new write generation, distinct
  even between racing writers (:func:`_bump_seq` counts under its own
  ``_seq.lock``); its rows carry it in ``__seq``, and build and
  rebuild rows are generation 0. The counter is unbounded, so
  ``__seq`` and the tombstone ``seq`` are written and pinned long: an
  int pin would read a past-2^31 file's seq as NULL and turn scoped
  tombstones into kill-all. Older int-written files widen to long.
- **Pins.** Each directory's read schema is pinned in
  ``_schema.json`` (:func:`_pin`: the data columns as written, ``__seq``
  long, the hive partition column read back last), so a read opens no
  parquet footer at planning time; mergeSchema inference read every
  footer per probe. A version written before pins existed is read with
  mergeSchema, which infers the same union schema.
- **Tombstones.** A tombstone ``(id, seq)`` hides that id's rows
  written at or before generation ``seq``; a later append of the id is
  live, so an update is tombstone-then-append and re-appending a
  deleted id resurrects it. A tombstone without ``seq`` (legacy
  id-only files, or NULL in a mixed directory) hides every generation,
  and a row without ``__seq`` is generation 0. Every read subtracts
  the tombstones with one broadcast join (:func:`_live`); their size
  is bounded by the rebuild cadence, the deletion-vector trade.
  Deletes are tombstones, never rewrites (:func:`_delete`), and
  deleting an absent id is a no-op (FAISS ``remove_ids``).
- **Rebuild.** Under the live version's lock, a rebuild writes the
  live rows (tombstoned rows gone, every row generation 0) into
  ``v{N+1}`` and commits it (:func:`_rebuild`): the compaction point.
  A ``v{N+1}`` that no pointer names is a crashed rebuild's debris and
  is removed first. Readers keep scanning the version they resolved.
  A store whose appends land in a delta its probes read whole (the IVF
  stores' ``cell=-1``) is due a rebuild once the delta holds more rows
  than the sealed cells a query batch probes (delta share above
  ~c/nlist, c the distinct probed cells): past that the delta is most
  of every read.
- **Vacuum.** :func:`vacuum_ivf_store`, every store's one vacuum,
  deletes superseded versions and any version above the live one,
  which no pointer ever named. Deletion is the one unlocked step: run
  it only once writers are quiesced and no reader holds a pruned
  version.

Local filesystem only: the lock, the pointer and the pins are the
plans/commit.py primitives.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from python_openetl_spark.operators.materialize import pin
from python_openetl_spark.plans.commit import file_lock, write_json

_POINTER = "_current.json"
_SEQ_FILE = "_seq.json"
_SCHEMA_FILE = "_schema.json"
_DELETED = "deleted"
#: the write-generation column of stored rows
_SEQ = "__seq"
#: the scope of a tombstone that hides every generation
_ALL_GENERATIONS = 2**62


def _version_dir(root: str, version: int) -> str:
    return os.path.join(root, f"v{version:08d}")


def _current_version(root: str) -> int:
    try:
        with open(os.path.join(root, _POINTER)) as f:
            return int(json.load(f)["version"])
    except FileNotFoundError:
        raise FileNotFoundError(f"not an index store (no {_POINTER}): {root}") from None


def _commit_version(root: str, version: int) -> None:
    write_json(os.path.join(root, _POINTER), {"version": version})


def current_index_dir(root: str) -> str:
    """Resolve the live version directory. Callers that issue several
    reads against one logical index snapshot should resolve ONCE and
    reuse the returned path — a concurrent rebuild then cannot mix
    versions mid-query."""
    return _version_dir(root, _current_version(root))


def vacuum_ivf_store(root: str, *, keep_last: int = 2) -> list[int]:
    """Delete superseded version directories of any store, keeping the
    newest ``keep_last`` up to the live one (always kept), and every
    directory above the live version (a crashed rebuild's debris). Run
    this only once writers are quiesced and no reader can still hold a
    pruned version. Returns the removed version numbers."""
    live = _current_version(root)
    versions = sorted(
        int(m.group(1))
        for d in os.listdir(root)
        if (m := re.fullmatch(r"v(\d{8})", d)) and os.path.isdir(os.path.join(root, d))
    )
    keep = set([v for v in versions if v <= live][-max(keep_last, 1) :])
    removed = [v for v in versions if v not in keep]
    for v in removed:
        shutil.rmtree(_version_dir(root, v))
    return removed


def _read_seq(idx_dir: str) -> int:
    try:
        with open(os.path.join(idx_dir, _SEQ_FILE)) as f:
            return int(json.load(f)["seq"])
    except FileNotFoundError:
        return 0


def _bump_seq(idx_dir: str) -> int:
    """Advance the version's write-generation counter under a
    ``_seq.lock`` file lock and return the new generation."""
    lock = os.path.join(idx_dir, "_seq.lock")
    with file_lock(lock, timeout=10.0, what="write-generation"):
        n = _read_seq(idx_dir) + 1
        write_json(os.path.join(idx_dir, _SEQ_FILE), {"seq": n})
        return n


def _write_lock(idx_dir: str):
    """The version's store write lock (module docstring: Lock)."""
    timeout = float(os.environ.get("SPARK_GRAFT_STORE_LOCK_TIMEOUT", "120"))
    return file_lock(
        os.path.join(idx_dir, "_write.lock"), timeout=timeout, what="store write"
    )


def _locked(root: str, write):
    """Return ``write(idx_dir)`` run under the live version's write
    lock, ``idx_dir`` being that version: the pointer is checked again
    once the lock is held, and a writer that waited out a rebuild
    retries on the new version."""
    while True:
        idx_dir = current_index_dir(root)
        with _write_lock(idx_dir):
            if current_index_dir(root) == idx_dir:
                return write(idx_dir)


def _rebuild(root: str, build) -> None:
    """Under the live version's lock: remove any unreferenced
    ``v{N+1}``, ``build(cur_dir, new_dir)`` it from the live version,
    and commit it."""

    def step(cur_dir: str) -> None:
        version = _current_version(root) + 1
        new_dir = _version_dir(root, version)
        shutil.rmtree(new_dir, ignore_errors=True)
        build(cur_dir, new_dir)
        _commit_version(root, version)

    _locked(root, step)


def _read_store_schemas(idx_dir: str) -> dict:
    """The version's pinned read schemas by directory name
    (StructType values); {} for a version written before pins."""
    try:
        with open(os.path.join(idx_dir, _SCHEMA_FILE)) as f:
            raw = json.load(f)
    except FileNotFoundError:
        return {}
    return {k: StructType.fromJson(v) for k, v in raw.items()}


def _write_store_schemas(idx_dir: str, **schemas) -> None:
    """Merge the given StructTypes into the version's pin file
    (os.replace: readers see old or new, never torn)."""
    current = {}
    try:
        with open(os.path.join(idx_dir, _SCHEMA_FILE)) as f:
            current = json.load(f)
    except FileNotFoundError:
        pass
    current.update({k: v.jsonValue() for k, v in schemas.items()})
    write_json(os.path.join(idx_dir, _SCHEMA_FILE), current)


def _pin(written: StructType, partition: str | None = None) -> StructType:
    """The read-back schema of a directory written from a frame with
    schema ``written``: ``__seq`` long, and the hive ``partition``
    column, read back after the data columns, last."""
    fields = [
        StructField(f.name, LongType()) if f.name == _SEQ else f
        for f in written.fields
        if f.name != partition
    ]
    if partition is not None:
        fields.append(StructField(partition, IntegerType()))
    return StructType(fields)


def _tomb_pin(id_col: str) -> StructType:
    return StructType([StructField(id_col, LongType()), StructField("seq", LongType())])


def _scan(spark: SparkSession, idx_dir: str, sub: str) -> DataFrame:
    """The directory ``sub`` of a version, read under its pin, or with
    mergeSchema when the version has none."""
    pins = _read_store_schemas(idx_dir)
    reader = spark.read
    if sub in pins:
        reader = reader.schema(pins[sub])
    else:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(os.path.join(idx_dir, sub))


def _live(spark: SparkSession, idx_dir: str, df: DataFrame, id_col: str) -> DataFrame:
    """``df``, already scanned from the version ``idx_dir``, minus the
    rows its tombstones hide (module docstring: Tombstones), without
    ``__seq``."""
    row_seq = F.coalesce(F.col(_SEQ), F.lit(0)) if _SEQ in df.columns else F.lit(0)
    if os.path.isdir(os.path.join(idx_dir, _DELETED)):
        tomb = _scan(spark, idx_dir, _DELETED)
        if "seq" in tomb.columns:
            scope = F.coalesce(F.col("seq"), F.lit(_ALL_GENERATIONS))
            tomb = tomb.groupBy(id_col).agg(F.max(scope).alias("__tomb_seq"))
        else:
            tomb = tomb.select(id_col).distinct().withColumn(
                "__tomb_seq", F.lit(_ALL_GENERATIONS)
            )
        df = (
            df.join(F.broadcast(tomb), id_col, "left")
            .filter(F.col("__tomb_seq").isNull() | (row_seq > F.col("__tomb_seq")))
            .drop("__tomb_seq")
        )
    return df.drop(_SEQ)


def _write_tombstones(idx_dir: str, doomed: DataFrame, id_col: str, seq: int) -> None:
    """Append the ids of ``doomed`` as tombstones scoped at generation
    ``seq``. The caller holds the write lock and has pinned ``doomed``:
    lineage into the ``deleted/`` directory this writes could otherwise
    be re-evaluated against it mid-append. The tombstone pin is
    rewritten first, so an older int ``seq`` pin never meets a long
    file."""
    _write_store_schemas(idx_dir, deleted=_tomb_pin(id_col))
    doomed.withColumn("seq", F.lit(seq).cast("long")).coalesce(1).write.mode(
        "append"
    ).parquet(os.path.join(idx_dir, _DELETED))


def _tombstone(root: str, id_col: str, doomed_at) -> int:
    """Tombstone the live ids ``doomed_at(idx_dir)`` of the locked
    version at its current generation; returns how many."""

    def write(idx_dir: str) -> int:
        doomed = pin(doomed_at(idx_dir))
        n = doomed.count()
        if n:
            _write_tombstones(idx_dir, doomed, id_col, _read_seq(idx_dir))
        return n

    return _locked(root, write)


def _delete(
    spark: SparkSession, root: str, verb: str, live_at, id_col: str, ids, where
) -> int:
    """A delete verb: tombstone the rows of ``live_at(idx_dir)`` whose
    id is in ``ids`` or that match the SQL predicate ``where`` (exactly
    one of the two); returns the number of live ids deleted."""
    if (ids is None) == (where is None):
        raise ValueError(f"{verb}: pass exactly one of ids/where")
    if where is not None:
        return _tombstone(
            root,
            id_col,
            lambda d: live_at(d).filter(F.expr(where)).select(id_col).distinct(),
        )
    id_df = spark.createDataFrame([(int(i),) for i in ids], f"{id_col} long")
    return _tombstone(
        root,
        id_col,
        lambda d: live_at(d)
        .select(id_col)
        .join(F.broadcast(id_df.distinct()), id_col, "left_semi"),
    )
