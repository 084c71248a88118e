"""Multi-table atomic publish: all-or-nothing failure semantics."""

from __future__ import annotations

import os

import pytest

from python_openetl_spark.plans.pipelines import ParquetTable
from python_openetl_spark.plans.txn import Publish, publish_all


def _t(spark, tmp_path, name, rows):
    return ParquetTable(str(tmp_path / name)), spark.createDataFrame(
        rows, "id long, v string"
    )


def test_publish_all_success_and_update(spark, tmp_path):
    ta, da = _t(spark, tmp_path, "a", [(1, "x")])
    tb, db = _t(spark, tmp_path, "b", [(2, "y"), (3, "z")])
    publish_all([Publish(ta, da), Publish(tb, db)])
    assert ta.read(spark).count() == 1
    assert tb.read(spark).count() == 2
    # second publish replaces both atomically
    publish_all([
        Publish(ta, spark.createDataFrame([(9, "n")], "id long, v string")),
        Publish(tb, spark.createDataFrame([(8, "m")], "id long, v string")),
    ])
    assert [r.id for r in ta.read(spark).collect()] == [9]
    assert [r.id for r in tb.read(spark).collect()] == [8]
    # no stray staging/backup dirs
    leftovers = [n for n in os.listdir(tmp_path) if ".txn" in n]
    assert leftovers == []


def test_publish_all_prepare_failure_touches_nothing(spark, tmp_path):
    ta, da = _t(spark, tmp_path, "a", [(1, "x")])
    publish_all([Publish(ta, da)])

    class Boom(Exception):
        pass

    bad = spark.createDataFrame([(1, "x")], "id long, v string").select(
        "id", "v"
    )
    # a df whose materialization fails: divide by zero under ANSI mode
    from pyspark.sql import functions as F

    bad = bad.select((F.col("id") / F.lit(0)).alias("id"), "v")
    with pytest.raises(Exception):
        publish_all([
            Publish(ta, spark.createDataFrame([(5, "q")], "id long, v string")),
            Publish(ParquetTable(str(tmp_path / "c")), bad),
        ])
    # table a untouched by the failed transaction
    assert [r.id for r in ta.read(spark).collect()] == [1]
    assert not os.path.exists(str(tmp_path / "c"))
    assert [n for n in os.listdir(tmp_path) if ".txn" in n] == []


def test_publish_all_commit_failure_rolls_back_completed_swaps(
    spark, tmp_path, monkeypatch
):
    ta, da = _t(spark, tmp_path, "a", [(1, "x")])
    tb, db = _t(spark, tmp_path, "b", [(2, "y")])
    publish_all([Publish(ta, da), Publish(tb, db)])

    real_rename = os.rename
    calls = {"n": 0}

    def failing_rename(src, dst):
        # fail the SECOND table's staging->path swap (its backup rename
        # of the old dir succeeds; the publish rename then dies)
        if src.endswith(".txn-suffix-never-matches"):
            raise OSError("boom")
        if ".txn-" in src and dst == tb.path:
            raise OSError("injected commit failure")
        return real_rename(src, dst)

    import python_openetl_spark.plans.txn as txn_mod

    monkeypatch.setattr(txn_mod.os, "rename", failing_rename)
    with pytest.raises(OSError, match="injected"):
        publish_all([
            Publish(ta, spark.createDataFrame([(9, "n")], "id long, v string")),
            Publish(tb, spark.createDataFrame([(8, "m")], "id long, v string")),
        ])
    monkeypatch.undo()
    # BOTH tables still show the pre-transaction contents
    assert [r.id for r in ta.read(spark).collect()] == [1]
    assert [r.id for r in tb.read(spark).collect()] == [2]
    assert [n for n in os.listdir(tmp_path) if ".txn" in n or ".bak" in n] == []
