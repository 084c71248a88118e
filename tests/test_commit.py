"""plans/commit.py: the one lock, pointer write and directory swap every
table, store and sink commits through — tested once, with injected
failures between steps and two concurrent writers."""

from __future__ import annotations

import json
import os
import pathlib
import threading

import pytest
from pyspark.sql import functions as F

from python_openetl_spark.plans.commit import (
    ConcurrentCommitError,
    file_lock,
    swap_in,
    write_json,
)
from python_openetl_spark.plans.pipelines import ParquetTable
from python_openetl_spark.plans.versioned import VersionedTable

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "python_openetl_spark"


def test_file_lock_timeout_message_and_release_on_error(tmp_path):
    lock = str(tmp_path / "_write.lock")
    open(lock, "w").close()  # a crashed holder's lock
    with pytest.raises(ConcurrentCommitError) as e:
        with file_lock(lock, timeout=0.1, what="store write"):
            pass
    assert str(e.value) == (
        f"store write lock held too long: {lock} (crashed writer? remove "
        "the lock file after verifying no write is in flight)"
    )
    assert isinstance(e.value, RuntimeError)
    assert os.path.exists(lock)  # never broken automatically
    os.unlink(lock)

    with pytest.raises(ValueError, match="body"):
        with file_lock(lock, timeout=0, what="commit"):
            assert os.path.exists(lock)
            raise ValueError("body failed")
    assert not os.path.exists(lock)  # released on the error path
    with file_lock(lock, timeout=0, what="commit"):
        pass
    assert not os.path.exists(lock)


def test_versioned_cas_two_threads_exactly_one_wins(spark, tmp_path):
    vt = VersionedTable(str(tmp_path / "occ"))
    assert vt.commit(spark.range(3).toDF("id")) == 1
    barrier = threading.Barrier(2)
    results: list = [None, None]

    def writer(i: int) -> None:
        df = spark.range(5 + i).toDF("id")
        barrier.wait()
        try:
            results[i] = vt.commit(df, expected_version=1)
        except Exception as e:  # noqa: BLE001 -- asserted below
            results[i] = e

    threads = [threading.Thread(target=writer, args=(i,)) for i in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wins = [r for r in results if r == 2]
    losses = [r for r in results if isinstance(r, ConcurrentCommitError)]
    assert len(wins) == 1 and len(losses) == 1, results
    assert vt.versions() == [1, 2]
    assert vt.current_version() == 2
    assert not os.path.exists(os.path.join(vt.path, "_commit.lock"))
    assert [n for n in os.listdir(vt.path) if n.startswith("_staging")] == []


def test_write_json_replace_failure_keeps_old_content(tmp_path, monkeypatch):
    path = str(tmp_path / "_current.json")
    write_json(path, {"version": 1})

    def failing_replace(src, dst):
        raise OSError("injected replace failure")

    monkeypatch.setattr(os, "replace", failing_replace)
    with pytest.raises(OSError, match="injected"):
        write_json(path, {"version": 2})
    monkeypatch.undo()
    with open(path) as f:
        assert json.load(f) == {"version": 1}
    assert os.listdir(tmp_path) == ["_current.json"]  # no temp file left


def _tree(root: pathlib.Path) -> dict:
    return {
        str(p.relative_to(root)): p.read_text()
        for p in sorted(root.rglob("*"))
        if p.is_file()
    }


def test_swap_in_second_rename_failure_restores_dest(tmp_path, monkeypatch):
    dest, staging = tmp_path / "t", tmp_path / "t.staging-x"
    (dest / "p=1").mkdir(parents=True)
    (dest / "p=1" / "part-0.parquet").write_text("old")
    staging.mkdir()
    (staging / "part-0.parquet").write_text("new")
    real_rename = os.rename

    def failing_rename(src, dst):
        if src == str(staging):
            raise OSError("injected swap failure")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="injected"):
        swap_in(str(staging), str(dest))
    monkeypatch.undo()
    assert _tree(dest) == {"p=1/part-0.parquet": "old"}
    assert sorted(os.listdir(tmp_path)) == ["t"]  # staging and backup gone

    # and the happy path: the old dir comes back as the backup
    staging.mkdir()
    (staging / "part-0.parquet").write_text("new")
    backup = swap_in(str(staging), str(dest))
    assert _tree(dest) == {"part-0.parquet": "new"}
    assert _tree(pathlib.Path(backup)) == {"p=1/part-0.parquet": "old"}
    # a missing staging only clears dest; nothing at dest -> no backup
    assert swap_in(str(tmp_path / "none"), str(tmp_path / "u")) is None
    cleared = swap_in(str(tmp_path / "none"), str(dest))
    assert not dest.exists() and os.path.isdir(cleared)


def test_commit_protocol_lives_only_in_commit_module():
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.relative_to(PACKAGE).as_posix() == "plans/commit.py":
            continue
        text = path.read_text()
        for needle in ("O_EXCL", "json.dump("):
            if needle in text:
                offenders.append(f"{path.relative_to(PACKAGE)}: {needle}")
    assert offenders == []


def test_versioned_pointer_write_failure_then_next_commit(
    spark, tmp_path, monkeypatch
):
    """A publish whose pointer replace fails leaves the table at its old
    version (the renamed ``v{N}`` is unreferenced debris), and the next
    commit replaces that leftover directory."""
    vt = VersionedTable(str(tmp_path / "vt"))
    vt.commit(spark.range(3).toDF("id"))
    staging = vt.stage(spark.range(10).toDF("id"))

    def failing_replace(src, dst):
        raise OSError("injected pointer failure")

    monkeypatch.setattr(os, "replace", failing_replace)
    with pytest.raises(OSError, match="injected"):
        vt.publish(staging)
    monkeypatch.undo()
    assert vt.current_version() == 1 and vt.versions() == [1]
    assert vt.read(spark).count() == 3
    assert os.path.isdir(os.path.join(vt.path, "v2"))  # the leftover
    assert vt.commit(spark.range(7).toDF("id")) == 2
    assert vt.read(spark).count() == 7
    assert vt.read(spark, version=1).count() == 3
    assert sorted(os.listdir(vt.path)) == ["_current.json", "v1", "v2"]


def test_overwrite_where_failed_write_leaves_no_staging(spark, tmp_path):
    """A failing write on the dynamic-partition path of
    ``overwrite_where`` leaves the table intact and no staging dir."""
    t = ParquetTable(str(tmp_path / "t"))
    t.overwrite(
        spark.range(4).select("id", (F.col("id") % 2).alias("p")),
        partition_by=["p"],
    )
    bad = spark.range(2).select(
        F.col("id"),
        F.lit(1).cast("long").alias("p"),
        F.assert_true(F.col("id") < 0).alias("chk"),
    )
    with pytest.raises(Exception):
        t.overwrite_where(bad, "p = 1", partition_by=["p"], validate=False)
    assert sorted(os.listdir(tmp_path)) == ["t"]
    assert sorted(r.id for r in t.read(spark).collect()) == [0, 1, 2, 3]


def test_publish_failed_rename_leaves_no_staging(spark, tmp_path, monkeypatch):
    t = ParquetTable(str(tmp_path / "t"))
    t.overwrite(spark.range(3).toDF("id"))
    staging = t.stage(spark.range(9).toDF("id"))
    real_rename = os.rename

    def failing_rename(src, dst):
        if src == staging:
            raise OSError("injected publish failure")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="injected"):
        t.publish(staging)
    monkeypatch.undo()
    assert sorted(os.listdir(tmp_path)) == ["t"]
    assert t.read(spark).count() == 3
