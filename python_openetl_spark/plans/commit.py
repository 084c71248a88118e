"""The engine's commit primitives — :func:`file_lock`,
:func:`write_json` and :func:`swap_in`/:func:`undo_swap` — shared by
every table, store and sink that persists state on a plain filesystem.
The reference loads each pipeline inside one Postgres transaction (its
``operations.py:404-474``); the engine rebuilds that guarantee from
these primitives, under one contract:

- **POSIX rename is atomic per path** on a local filesystem:
  ``os.replace``/``os.rename`` leave a reader seeing the old or the new
  file or directory, never a torn one.
- **O_EXCL create is real mutual exclusion on a local filesystem** and
  advisory only on stores without atomic create (S3 and other object
  stores): there the lock documents single-writer use but cannot
  enforce it.
- **A crashed lock holder fails loud and is never broken
  automatically.** Its lock file stays behind; the next writer waits
  out its timeout and raises :class:`ConcurrentCommitError` naming the
  file. Remove it by hand after verifying no write is in flight —
  breaking the lock of a healthy but slow writer would corrupt its
  write (fail-loud, never fail-corrupt).
- No ``fsync``: the commit is atomic against a crashed process, not
  against power loss.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid


class ConcurrentCommitError(RuntimeError):
    """Another writer holds the lock past its timeout, or committed
    first (``VersionedTable.commit(expected_version=...)``): the caller
    re-reads, re-derives and retries — the Delta conflict loop."""


@contextlib.contextmanager
def file_lock(path: str, *, timeout: float, what: str):
    """Hold the O_EXCL lock file ``path`` for the ``with`` body, polling
    every 50 ms for up to ``timeout`` seconds (0 fails at once). The
    lock is released however the body exits; a held lock past the
    timeout raises :class:`ConcurrentCommitError`."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            os.close(os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
            break
        except FileExistsError:
            if time.monotonic() >= deadline:
                raise ConcurrentCommitError(
                    f"{what} lock held too long: {path} (crashed writer? "
                    "remove the lock file after verifying no write is in "
                    "flight)"
                ) from None
            time.sleep(0.05)
    try:
        yield
    finally:
        os.unlink(path)


def write_json(path: str, obj) -> None:
    """Atomically replace ``path`` with ``obj`` serialized as JSON: the
    bytes go to a uniquely named temp file beside it, then one
    ``os.replace``. On any failure the temp file is removed and
    ``path`` keeps its old content."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f)
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)
        raise


def swap_in(staging: str, dest: str) -> str | None:
    """Make the directory ``staging`` the directory at ``dest``: move
    ``dest`` aside to a ``{dest}.bak-*`` backup, then rename ``staging``
    into its place, creating ``dest``'s parent if needed. A missing
    ``staging`` only clears ``dest``. Returns the backup path, or None
    when ``dest`` did not exist.

    If any step fails, ``dest`` is restored, ``staging`` is removed
    and the error re-raised. On success the caller removes the backup
    once its whole commit stands, or hands it to :func:`undo_swap`."""
    backup = f"{dest}.bak-{uuid.uuid4().hex[:8]}"
    moved = False
    try:
        if os.path.exists(dest):
            os.rename(dest, backup)
            moved = True
        if os.path.exists(staging):
            os.makedirs(os.path.dirname(dest) or ".", exist_ok=True)
            os.rename(staging, dest)
    except BaseException:
        if moved:
            undo_swap(dest, backup)
        shutil.rmtree(staging, ignore_errors=True)
        raise
    return backup if moved else None


def undo_swap(dest: str, backup: str | None) -> None:
    """Roll back one :func:`swap_in`: remove what it put at ``dest`` and
    move ``backup`` (if any) back into place."""
    shutil.rmtree(dest, ignore_errors=True)
    if backup is not None:
        os.rename(backup, dest)
