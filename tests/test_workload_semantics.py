"""Semantic checks for queries without a SQL oracle: approx-aggregate
error bounds vs their exact counterparts."""

from __future__ import annotations

from pyspark.sql import functions as F

from python_openetl_spark.io import load_table
from python_openetl_spark.workload.relational import q28_approx_aggs
from tests.conftest import SF_DIR


def test_train_test_split_disjoint_and_stable(spark):
    from python_openetl_spark.operators.sampling import train_test_split

    d = load_table(spark, SF_DIR, "documents").select("doc_id")
    train, test = train_test_split(d, "doc_id", test_fraction=0.2)
    n, ntr, nte = d.count(), train.count(), test.count()
    assert ntr + nte == n
    assert train.join(test, "doc_id").count() == 0  # hash-disjoint
    assert 0.1 * n <= nte <= 0.3 * n
    # growth stability: membership of existing keys never flips
    grown = d.unionByName(d.select((F.col("doc_id") + 10_000_000).alias("doc_id")))
    _, test2 = train_test_split(grown, "doc_id", test_fraction=0.2)
    old_test2 = test2.filter(F.col("doc_id") < 10_000_000)
    assert sorted(r["doc_id"] for r in old_test2.collect()) == sorted(
        r["doc_id"] for r in test.collect()
    )


def test_approx_aggs_within_error_bounds(spark):
    """q28 now emits its error-bound checks as hash-verified booleans;
    this test asserts every bound actually holds (not vacuously true)
    and the exact anchors agree with a direct aggregation."""
    approx = {r["o_orderstatus"]: r for r in q28_approx_aggs(spark, SF_DIR).collect()}
    o = load_table(spark, SF_DIR, "orders")
    exact = {
        r["o_orderstatus"]: r
        for r in o.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("o_custkey").alias("nd"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for status, row in approx.items():
        assert row["n_orders"] == exact[status]["n"]
        assert row["exact_customers"] == exact[status]["nd"]
        assert row["ndv_ok"] and row["p25_ok"] and row["p50_ok"] and row["p75_ok"]


def test_corpus_key_fingerprints_fixture_state(tmp_path):
    # memo keys must change when the corpus is mutated in place
    # (r14 verdict #7: sf_dir alone serves stale derived state)
    import os
    import shutil

    from python_openetl_spark.workload.util import corpus_key

    d = tmp_path / "corpus"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", d / "documents.parquet")
    k1 = corpus_key(str(d))
    assert corpus_key(str(d)) == k1  # immutable dir -> stable key
    os.utime(d / "documents.parquet")  # touch: content-state changed
    assert corpus_key(str(d)) != k1


def test_shared_towers_memo_misses_on_mutated_corpus(spark, tmp_path, monkeypatch):
    # a corpus mutated in place must MISS the towers memo and
    # recompute rather than serve stale towers
    import os
    import shutil

    from python_openetl_spark.workload import llm15

    d = tmp_path / "sf"
    d.mkdir()
    for name in ("documents", "embeddings"):
        shutil.copy(f"{SF_DIR}/{name}.parquet", d / f"{name}.parquet")
    builds = []
    build = llm15._build_towers
    monkeypatch.setattr(
        llm15, "_build_towers", lambda *a: builds.append(a) or build(*a)
    )
    llm15._shared_towers(spark, str(d))
    assert len(builds) == 1
    llm15._shared_towers(spark, str(d))  # unchanged corpus -> memo hit
    assert len(builds) == 1
    os.utime(d / "documents.parquet")  # mutate in place
    llm15._shared_towers(spark, str(d))
    assert len(builds) == 2  # miss -> recomputed


def test_footer_reads_count_multi_part_partitioned_table(spark, tmp_path):
    import shutil

    from python_openetl_spark.workload.util import nonempty, table_rows

    sf = tmp_path / "sf"
    (
        load_table(spark, SF_DIR, "orders")
        .repartition(3)
        .write.partitionBy("o_orderstatus")
        .parquet(str(sf / "orders.parquet"))
    )
    # an abandoned task output: Spark's reader skips `_`-prefixed dirs
    part = next((sf / "orders.parquet").rglob("part-*.parquet"))
    (sf / "orders.parquet" / "_temporary").mkdir()
    shutil.copy(part, sf / "orders.parquet" / "_temporary" / part.name)
    assert table_rows(str(sf), "orders") == load_table(spark, str(sf), "orders").count()
    assert table_rows(str(sf), "orders") == load_table(spark, SF_DIR, "orders").count()
    assert nonempty(str(sf), "orders")


def test_footer_reads_raise_on_table_dir_without_parts(tmp_path):
    # a half-written table is broken, not empty
    import pytest

    from python_openetl_spark.workload.util import nonempty, table_rows

    (tmp_path / "orders.parquet").mkdir()
    (tmp_path / "orders.parquet" / "_SUCCESS").write_text("")
    with pytest.raises(FileNotFoundError, match="no .parquet part file"):
        nonempty(str(tmp_path), "orders")
    with pytest.raises(FileNotFoundError):
        table_rows(str(tmp_path), "orders")


def test_corrupt_footer_without_session_raises_pyarrow_error(tmp_path, monkeypatch):
    import pyarrow as pa
    import pytest
    from pyspark.sql import SparkSession

    from python_openetl_spark.workload.util import embedding_dim, table_rows

    (tmp_path / "embeddings.parquet").write_bytes(b"not a parquet file")
    monkeypatch.setattr(SparkSession, "getActiveSession", staticmethod(lambda: None))
    with pytest.raises(pa.ArrowInvalid):
        table_rows(str(tmp_path), "embeddings")
    with pytest.raises(pa.ArrowInvalid):
        embedding_dim(str(tmp_path))


def test_footer_fallback_to_spark_is_logged(spark, monkeypatch, caplog):
    import logging

    from python_openetl_spark.workload import util

    def unreadable(path):
        raise OSError(f"permission denied: {path}")

    monkeypatch.setattr(util.pq, "ParquetFile", unreadable)
    with caplog.at_level(logging.WARNING, logger="python_openetl_spark"):
        n = util.table_rows(SF_DIR, "orders")
    assert n == load_table(spark, SF_DIR, "orders").count()
    [rec] = [r for r in caplog.records if r.name == "python_openetl_spark"]
    assert rec.levelno == logging.WARNING
    assert "orders.parquet" in rec.getMessage() and "falling back" in rec.getMessage()


def test_scratch_root_removed_at_interpreter_exit(tmp_path):
    import os
    import pathlib
    import subprocess
    import sys

    code = f"""
import os
from python_openetl_spark.workload.util import corpus_memo, scratch
a = scratch("a")
b = corpus_memo("t", {SF_DIR!r}, lambda: scratch("b"))
assert corpus_memo("t", {SF_DIR!r}, lambda: scratch("c")) == b
assert os.path.isdir(a) and os.path.dirname(a) == os.path.dirname(b)
print(os.path.dirname(a))
"""
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=pathlib.Path(__file__).resolve().parents[1],
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
        check=True,
    )
    root = out.stdout.strip()
    assert os.path.basename(root).startswith("poe_")
    assert os.path.dirname(root) == str(tmp_path)
    assert not os.path.exists(root)
    assert list(tmp_path.iterdir()) == []


def test_scratch_and_memos_live_only_in_util():
    # every workload temp dir goes through util.scratch and every
    # derived-state memo through util.corpus_memo: no module-level
    # dict other than the QUERIES/ORACLE registries
    import ast
    import pathlib

    from python_openetl_spark import workload

    offenders = []
    for path in sorted(pathlib.Path(workload.__file__).parent.glob("*.py")):
        if path.name == "util.py":
            continue
        text = path.read_text()
        if "mkdtemp" in text:
            offenders.append(f"{path.name}: mkdtemp")
        for node in ast.parse(text).body:
            if isinstance(node, ast.Assign) and len(node.targets) == 1:
                target, value = node.targets[0], node.value
            elif isinstance(node, ast.AnnAssign):
                target, value = node.target, node.value
            else:
                continue
            empty_dict = (isinstance(value, ast.Dict) and not value.keys) or (
                isinstance(value, ast.Call)
                and isinstance(value.func, ast.Name)
                and value.func.id == "dict"
                and not value.args
                and not value.keywords
            )
            name = getattr(target, "id", None)
            if empty_dict and name not in ("QUERIES", "ORACLE"):
                offenders.append(f"{path.name}: {name}")
    assert offenders == []
