"""Versioned table with time travel — the snapshot-isolation tier the
swap protocol (plans/pipelines.py ParquetTable) throws away: instead
of deleting the previous table directory on every publish, keep each
version as an immutable ``v{N}`` directory and commit by atomically
replacing one tiny JSON pointer file. This is the Delta/Iceberg
architecture reduced to its essentials (immutable data + an atomic
metadata pointer), built on nothing but a filesystem:

- **Readers are snapshot-isolated for the duration of a query**: a
  scan binds to a concrete ``v{N}`` directory at plan time; a commit
  racing the scan creates ``v{N+1}`` and never mutates ``v{N}``.
- **Commit = one rename** of the version-pointer JSON (atomic per
  POSIX), so concurrent readers see either the old or the new version,
  never a mix — strictly stronger than ParquetTable's directory swap,
  which has a window where the path is mid-rename.
- **Time travel / rollback / audit** come for free: ``read(version=N)``
  scans an old snapshot; ``rollback(N)`` is a new commit whose data is
  version N's directory (zero data copy — versions are immutable, so
  sharing is safe); ``vacuum(keep_last)`` deletes unreferenced version
  directories.

At 100 TB the pointer file is exactly as cheap as here (commit cost is
data-size-independent); the real systems add a transaction LOG rather
than a single pointer to support concurrent writers and incremental
metadata. Blind ``commit()`` assumes single-writer semantics (as every
ParquetTable publish path does); ``commit(expected_version=...)`` adds
the optimistic-concurrency tier — Delta's conflict detection reduced
to a compare-and-set under a lock file: a racer whose snapshot went
stale fails with ``ConcurrentCommitError`` instead of silently
clobbering. The lock, the pointer write and their filesystem contract
live in ``plans/commit.py``.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from python_openetl_spark.plans.commit import ConcurrentCommitError, file_lock, write_json


class VersionedTable:
    """Append-only versioned parquet table with an atomic pointer."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.path, "_current.json")

    def _state(self) -> dict:
        try:
            with open(self._pointer) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {"current": None, "versions": {}}

    def _commit_state(self, state: dict) -> None:
        write_json(self._pointer, state)  # the atomic commit

    def current_version(self) -> int | None:
        return self._state()["current"]

    def versions(self) -> list[int]:
        return sorted(int(v) for v in self._state()["versions"])

    def commit(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        *,
        txn: str | None = None,
        expected_version: int | None = None,
    ) -> int:
        """Write ``df`` as the next version; returns its number.
        Equivalent to ``publish(stage(df, partition_by), ...)``.

        ``txn`` is an optional idempotence token recorded IN the same
        atomic pointer commit (the Delta ``txnAppId/txnVersion``
        pattern): a re-run that offers an already-committed token is a
        no-op returning the existing version — this is what lets a
        replayed streaming micro-batch (foreachBatch at-least-once)
        commit exactly once (streaming/sinks.py VersionedCdcSink).

        ``expected_version`` opts into OPTIMISTIC CONCURRENCY, see
        :meth:`publish`.
        """
        done = self._txn_version(self._state(), txn)
        if done is not None:
            return done
        return self.publish(
            self.stage(df, partition_by), txn=txn, expected_version=expected_version
        )

    def stage(self, df: DataFrame, partition_by: list[str] | None = None) -> str:
        """Write ``df`` fully to a new staging directory inside the
        table root and return its path. Nothing is visible to readers
        until :meth:`publish`; a failed write leaves no directory."""
        from python_openetl_spark.plans.pipelines import write_staging

        staging = os.path.join(self.path, f"_staging-{uuid.uuid4().hex[:8]}")
        write_staging(df, staging, partition_by)
        return staging

    def publish(
        self,
        staging: str,
        *,
        txn: str | None = None,
        expected_version: int | None = None,
    ) -> int:
        """Commit a directory made by :meth:`stage` as the next version:
        rename it to ``v{N}``, then atomically replace the pointer.
        Returns the version number. The staging directory is consumed:
        renamed into place, or removed when the publish fails or the
        ``txn`` token is already committed.

        ``expected_version`` opts into OPTIMISTIC CONCURRENCY: the
        publish succeeds only if the table is still at that version
        (what the writer read before deriving the staged data), checked
        and published under a ``_commit.lock`` file lock
        (``plans/commit.py``) that covers only metadata — the data
        write happened in :meth:`stage`, outside the lock. A stale
        snapshot raises :class:`ConcurrentCommitError` and the caller
        retries from a fresh read — Delta's conflict loop. Without
        ``expected_version`` the blind single-writer path takes no
        lock.
        """
        try:
            if expected_version is None:
                return self._publish_unlocked(staging, txn)
            lock = os.path.join(self.path, "_commit.lock")
            with file_lock(lock, timeout=10.0, what="commit"):
                current = self._state()["current"] or 0
                if current != expected_version:
                    raise ConcurrentCommitError(
                        f"table moved to v{current} while this writer worked "
                        f"from v{expected_version}; re-read and retry"
                    )
                return self._publish_unlocked(staging, txn)
        finally:
            # no-op once the rename consumed it
            shutil.rmtree(staging, ignore_errors=True)

    def _publish_unlocked(self, staging: str, txn: str | None) -> int:
        state = self._state()
        done = self._txn_version(state, txn)
        if done is not None:
            return done
        n = (state["current"] or 0) + 1 if state["current"] is not None else 1
        while str(n) in state["versions"]:
            n += 1
        vdir = os.path.join(self.path, f"v{n}")
        # an unreferenced v{n} is a crashed writer's debris: replace it
        shutil.rmtree(vdir, ignore_errors=True)
        os.rename(staging, vdir)
        meta: dict = {"dir": f"v{n}"}
        if txn is not None:
            meta["txn"] = txn
        state["versions"][str(n)] = meta
        state["current"] = n
        self._commit_state(state)
        return n

    @staticmethod
    def _txn_version(state: dict, txn: str | None) -> int | None:
        """The committed version carrying ``txn``, if any."""
        if txn is not None:
            for v, meta in state["versions"].items():
                if meta.get("txn") == txn:
                    return int(v)
        return None

    def has_txn(self, txn: str) -> bool:
        """True if a committed version carries this idempotence token."""
        return self._txn_version(self._state(), txn) is not None

    def rollback(self, version: int) -> int:
        """Make ``version`` current again (zero-copy: versions are
        immutable, so the pointer simply moves back). Returns the new
        current version number (== ``version``)."""
        state = self._state()
        if str(version) not in state["versions"]:
            raise ValueError(f"unknown version {version}; have {self.versions()}")
        state["current"] = version
        self._commit_state(state)
        return version

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Scan the current (or an explicit historical) version."""
        state = self._state()
        v = state["current"] if version is None else version
        if v is None or str(v) not in state["versions"]:
            raise ValueError(f"no such version {v}; have {self.versions()}")
        return spark.read.parquet(
            os.path.join(self.path, state["versions"][str(v)]["dir"])
        )

    def changes(
        self,
        spark: SparkSession,
        pk: str | list,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Incremental-consumer CDC feed between two committed versions:
        the I/U/D rows (operators.merge.snapshot_diff) that transform
        snapshot ``from_version`` into ``to_version`` (default: the
        current pointer). Because versions are immutable directories,
        the diff is reproducible forever — the "read incrementally
        since version N" contract Delta/Iceberg consumers rely on,
        computed as one co-partitioned full-outer pk join of the two
        snapshots rather than from a stored log."""
        from python_openetl_spark.operators.merge import snapshot_diff

        if to_version is None:
            to_version = self.current_version()
        return snapshot_diff(
            self.read(spark, version=from_version),
            self.read(spark, version=to_version),
            pk,
        )

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Delete all but the newest ``keep_last`` versions (never the
        current one). Returns the versions removed.

        Shallow-clone safe: a version directory OUTSIDE this table's
        root (a shallow clone's borrowed reference to its source) is
        dropped from the pointer state but never deleted from disk —
        only the SOURCE table may reclaim its own files (the Delta
        shallow-clone vacuum rule)."""
        state = self._state()
        ordered = sorted(int(v) for v in state["versions"])
        # lst[-0:] is the WHOLE list: keep_last=0 ("current only") was
        # a silent no-op before this explicit slice (r10 review)
        keep = set(ordered[len(ordered) - keep_last :] if keep_last > 0 else [])
        if state["current"] is not None:
            keep.add(state["current"])
        removed = []
        root = os.path.realpath(self.path)
        for v in list(state["versions"]):
            if int(v) not in keep:
                vdir = os.path.realpath(
                    os.path.join(self.path, state["versions"][v]["dir"])
                )
                if vdir.startswith(root + os.sep):
                    shutil.rmtree(vdir, ignore_errors=True)
                del state["versions"][v]
                removed.append(int(v))
        self._commit_state(state)
        return sorted(removed)

    def clone(self, dest_path: str, *, shallow: bool = False) -> "VersionedTable":
        """CLONE the table (the Delta ``CLONE`` verb): a new table at
        ``dest_path`` with the full version history, current pointer,
        and idempotence tokens, that then EVOLVES INDEPENDENTLY —
        commits to the clone never touch the source and vice versa
        (immutable version directories make this safe by construction).

        ``shallow=True`` is the zero-copy form: the clone's pointer
        references the SOURCE's version directories by absolute path
        (``read`` resolves them unchanged — ``os.path.join`` yields the
        absolute path as-is), so cloning costs one JSON write no matter
        the table size; new commits land in the clone's own directory.
        The clone must not outlive a source vacuum of the borrowed
        versions (exactly Delta's shallow-clone caveat), and the
        clone's own vacuum never deletes borrowed files (see
        :meth:`vacuum`). ``shallow=False`` copies every version
        directory — a portable, self-contained backup. A deep clone
        LOCALIZES borrowed (shallow-clone) versions: their absolute
        source dirs are copied into the destination under the local
        ``v{n}`` name, so the deep clone is self-contained even when
        the source was itself a shallow clone (copying a borrowed
        version the source already vacuumed raises
        ``FileNotFoundError`` — the same staleness the shallow caveat
        documents)."""
        dest = VersionedTable(dest_path)
        if dest.current_version() is not None or dest.versions():
            raise ValueError(f"clone destination is not empty: {dest_path}")
        state = self._state()
        new_state: dict = {"current": state["current"], "versions": {}}
        for v, meta in state["versions"].items():
            src_dir = os.path.join(self.path, meta["dir"])
            new_meta = dict(meta)
            if shallow:
                new_meta["dir"] = os.path.realpath(src_dir)
            else:
                # Localize under the canonical v{n} name: meta["dir"] may be
                # an ABSOLUTE borrowed dir (this table is a shallow clone),
                # and joining an absolute path would resolve to the SOURCE
                # directory itself (copytree onto itself / post-vacuum
                # FileNotFoundError). Version keys are unique, so v{n} is
                # collision-free in the empty destination.
                new_meta["dir"] = f"v{int(v)}"
                shutil.copytree(src_dir, os.path.join(dest_path, new_meta["dir"]))
            new_state["versions"][v] = new_meta
        dest._commit_state(new_state)
        return dest
