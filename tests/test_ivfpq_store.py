"""operators/ivfpq_store.py — persisted compressed (IVF+PQ) index."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from python_openetl_spark.operators import similarity
from python_openetl_spark.operators.ivf_store import current_index_dir
from python_openetl_spark.operators.ivfpq_store import (
    append_to_ivfpq_store,
    build_ivfpq_store,
    ivfpq_store_topk,
    rebuild_ivfpq_store,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    root = str(tmp_path_factory.mktemp("ivfpq") / "store")
    build_ivfpq_store(
        emb.filter(F.col("vec_id") % 10 != 7), root, nlist=16, m=8, ksub=16
    )
    append_to_ivfpq_store(emb.filter(F.col("vec_id") % 10 == 7), root)
    return root


def _queries(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    return (
        emb.filter(F.col("vec_id").isin(1, 5, 9))
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .toPandas()
    )


def test_store_holds_codes_not_vectors(spark, store):
    """The scale point of PQ: the persisted rows are one-byte codes +
    a norm, never the raw embedding."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    stored = spark.read.option("mergeSchema", "true").parquet(
        current_index_dir(store) + "/assigned"
    )
    assert stored.count() == emb.count()
    # __seq is the r11 write-generation stamp (tombstone scoping), and
    # __cell the real cell of an appended row in the delta partition
    assert set(stored.columns) == {
        "vec_id", "codes", "vnorm", "cell", "__seq", "__cell"
    }
    assert stored.schema["codes"].dataType.simpleString() == "array<tinyint>"


def test_probe_recall_floor_and_full_probe(spark, store):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qpdf = _queries(spark)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in similarity.cosine_topk(
            emb, spark.createDataFrame(qpdf), k=5
        ).collect()
    }
    # full probe + a shortlist >= corpus size: the exact re-rank sees
    # EVERY candidate, so ADC approximation cannot drop a true
    # neighbor -> identical to brute force (shortlist below corpus
    # size legitimately can: ADC ranked a true neighbor 251st of 500
    # at rerank_factor=50 when this test pinned that setting)
    n = emb.count()
    full = {
        (r["query_id"], r["vec_id"])
        for r in ivfpq_store_topk(
            spark, store, qpdf, emb, k=5, nprobe=16, rerank_factor=(n // 5) + 1
        ).collect()
    }
    assert full == exact
    narrow = ivfpq_store_topk(spark, store, qpdf, emb, k=5, nprobe=12)
    hits = len({(r["query_id"], r["vec_id"]) for r in narrow.collect()} & exact)
    assert hits / len(exact) >= 0.2


def test_probe_scan_is_partition_pruned(spark, store):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df = ivfpq_store_topk(spark, store, _queries(spark), emb, k=5, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan.replace(
        "PartitionFilters: [ cell", "PartitionFilters: [cell"
    ), plan


def test_appended_vector_is_findable_as_itself(spark, store):
    """Append path: a query equal to an appended vector must retrieve
    it at rank 1 (same cell -> probed; ADC ~max -> in shortlist; exact
    re-rank -> cosine 1.0)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    row = emb.filter(F.col("vec_id") % 10 == 7).first()
    qpdf = pd.DataFrame({"query_id": [999_999], "embedding": [row["embedding"]]})
    got = ivfpq_store_topk(spark, store, qpdf, emb, k=3, nprobe=1).collect()
    top = max(got, key=lambda r: r["cos_sim"])
    assert top["vec_id"] == row["vec_id"] and top["cos_sim"] > 0.999999


def test_empty_queries_degrade(spark, store):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    empty = pd.DataFrame({"query_id": [], "embedding": []})
    assert ivfpq_store_topk(spark, store, empty, emb, k=3).count() == 0


def test_hostile_lifecycle_rebuild_append_vacuum_under_reader(spark, tmp_path):
    """r7 verdict #5 hostile lifecycle: duplicate / near-zero / huge /
    exact-zero vectors flow through build -> append -> probe ->
    rebuild -> append-after-rebuild -> vacuum, and a reader that pinned
    the pre-rebuild version keeps working for exactly as long as the
    vacuum policy retains it."""
    import os

    import numpy as np

    from python_openetl_spark.operators.ivf_store import (
        current_index_dir as _cur,
        vacuum_ivf_store,
    )
    from python_openetl_spark.operators.ivfpq_store import rebuild_ivfpq_store

    rng = np.random.default_rng(8)
    dim = 16
    base = rng.normal(size=(40, dim))
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    rows += [
        (100, [float(x) for x in base[3]]),          # exact duplicate of id 3
        (101, [float(x) for x in base[5] * 1e10]),   # huge magnitude
        (102, [float(x) for x in base[7] * 1e-20]),  # near-zero magnitude
        (103, [0.0] * dim),                          # exact zero-norm
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    root = str(tmp_path / "pq_hostile")
    build_ivfpq_store(corpus.filter("vec_id < 100"), root, nlist=4, m=4, ksub=8)
    append_to_ivfpq_store(corpus.filter("vec_id >= 100"), root)  # hostile batch

    qpdf = (
        corpus.filter(F.col("vec_id").isin(3, 101, 102))
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .toPandas()
    )

    def probe():
        return ivfpq_store_topk(
            spark, root, qpdf, corpus, k=3, nprobe=4, rerank_factor=8
        ).collect()

    def check(res):
        assert res and all(r["cos_sim"] == r["cos_sim"] for r in res)  # no NaN
        top = {(r["query_id"], r["rank"]): (r["vec_id"], r["cos_sim"]) for r in res}
        # query 3's exact duplicate (id 100, appended) is rank 1 at cos ~1
        assert top[(3, 1)][0] == 100 and top[(3, 1)][1] == pytest.approx(1.0)
        # magnitude is irrelevant to cosine: huge/near-zero queries rank
        # their direction-mates (ids 5 / 7) first, zero row never leads
        assert top[(101, 1)][0] == 5 and top[(102, 1)][0] == 7
        assert all(v[0] != 103 for v in top.values())

    check(probe())

    pinned = _cur(root)  # reader pins v1 before the rebuild
    rebuild_ivfpq_store(spark, root, corpus)  # retrains from raw rows
    assert _cur(root) != pinned
    # append-after-rebuild must land in the LIVE version, not the pinned one
    extra = spark.createDataFrame(
        [(200, [float(x) for x in base[11]])], "vec_id long, embedding array<float>"
    )
    append_to_ivfpq_store(extra, root)
    live_ids = {
        r["vec_id"]
        for r in spark.read.parquet(os.path.join(_cur(root), "assigned")).collect()
    }
    assert 200 in live_ids and 103 in live_ids
    pinned_ids = {
        r["vec_id"]
        for r in spark.read.parquet(os.path.join(pinned, "assigned")).collect()
    }
    assert 200 not in pinned_ids  # immutable superseded version
    # vacuum keep_last=2 retains the pinned version: the reader's scan
    # still resolves; keep_last=1 is the explicit end of that window
    assert vacuum_ivf_store(root, keep_last=2) == []
    assert spark.read.parquet(os.path.join(pinned, "assigned")).count() > 0
    check(probe())  # post-rebuild probes stay NaN-free and correct
    removed = vacuum_ivf_store(root, keep_last=1)
    assert removed == [1] and not os.path.exists(pinned)
    check(probe())


def test_pq_store_honors_shared_tombstones(spark, tmp_path):
    """The delete verb's contract extends to the PQ store (round-10
    review finding): the layout is shared, so delete_from_ivf_store
    against a PQ root must hide ids from PQ probes AND from the PQ
    rebuild's held-id set."""
    import pyspark.sql.functions as F

    from python_openetl_spark.operators.ivf_store import (
        current_index_dir,
        delete_from_ivf_store,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    root = str(tmp_path / "pq_del")
    build_ivfpq_store(emb, root, nlist=8, m=8, ksub=16)
    victims = [r["vec_id"] for r in emb.limit(10).collect()]
    assert delete_from_ivf_store(spark, root, ids=victims) == 10
    q = (
        emb.filter(~F.col("vec_id").isin(victims)).limit(3)
        .select(F.col("vec_id").alias("query_id"), "embedding").toPandas()
    )
    res = ivfpq_store_topk(spark, root, q, emb, k=emb.count() - 11, nprobe=8)
    assert res.filter(F.col("vec_id").isin(victims)).count() == 0
    # rebuild drops them for good (held_ids goes through _load_assigned)
    rebuild_ivfpq_store(spark, root, emb)
    import os

    live = spark.read.parquet(
        os.path.join(current_index_dir(root), "assigned")
    )
    assert live.count() == emb.count() - 10
    assert live.filter(F.col("vec_id").isin(victims)).count() == 0


def test_delta_append_probe_and_rebuild(spark, tmp_path):
    """The PQ store shares the delta layout: an append writes one file
    per input partition under ``cell=-1`` only, in one Spark job; a full
    probe over a base and two appends equals exact top-k; a narrow
    probe keeps its ``cell`` PartitionFilters, the delta included; and
    a rebuild folds the delta away, keeping the same live ids."""
    import re

    from python_openetl_spark.operators.ivf_store import _load_assigned
    from tests.test_ivf_store import _count_jobs, _file_batch, _parquet_files

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pdf = emb.select("vec_id", "embedding").toPandas()
    root = str(tmp_path / "store")
    build_ivfpq_store(
        emb.filter(F.col("vec_id") % 4 != 3), root, nlist=8, m=8, ksub=16
    )
    idx = current_index_dir(root)
    before = _parquet_files(idx)
    first = pdf[pdf["vec_id"] % 8 == 3]
    batch, parts = _file_batch(
        spark, tmp_path, first["vec_id"].to_numpy(), np.stack(first["embedding"]), 2
    )
    _, jobs = _count_jobs(
        spark, "ivfpq-append", lambda: append_to_ivfpq_store(batch, root)
    )
    assert jobs <= 1
    after = _parquet_files(idx)
    assert set(after) == set(before) | {"cell=-1"}
    assert all(after[d] == before[d] for d in before)
    assert len(after["cell=-1"]) == parts
    append_to_ivfpq_store(emb.filter(F.col("vec_id") % 8 == 7), root)

    qpdf = _queries(spark)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in similarity.cosine_topk(emb, spark.createDataFrame(qpdf), k=5).collect()
    }
    full = ivfpq_store_topk(
        spark, root, qpdf, emb, k=5, nprobe=8, rerank_factor=len(pdf) // 5 + 1
    )
    assert {(r["query_id"], r["vec_id"]) for r in full.collect()} == exact
    plan = (
        ivfpq_store_topk(spark, root, qpdf, emb, k=5, nprobe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    pruned = re.search(r"PartitionFilters: \[cell#\d+ IN \(([-\d,]+)\)\]", plan)
    assert pruned and "-1" in pruned.group(1).split(","), plan

    def live_ids():
        return sorted(
            r["vec_id"]
            for r in _load_assigned(spark, current_index_dir(root)).collect()
        )

    held = live_ids()
    assert held == sorted(pdf["vec_id"])
    rebuild_ivfpq_store(spark, root, emb)
    assert "cell=-1" not in _parquet_files(current_index_dir(root))
    assert live_ids() == held


def test_parent_layout_pin_migrates_on_append(spark, tmp_path):
    """A PQ store pinned before the delta layout (no ``__cell`` in its
    assigned pin) gains the column at its first append, and the
    appended vectors are found at rank 1 for themselves."""
    import json
    import os

    from python_openetl_spark.operators.store import _SCHEMA_FILE

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    root = str(tmp_path / "store")
    build_ivfpq_store(
        emb.filter(F.col("vec_id") % 10 != 7), root, nlist=8, m=8, ksub=16
    )
    pin_path = os.path.join(current_index_dir(root), _SCHEMA_FILE)
    pins = json.loads(open(pin_path).read())
    pins["assigned"]["fields"] = [
        f for f in pins["assigned"]["fields"] if f["name"] != "__cell"
    ]
    with open(pin_path, "w") as fh:
        json.dump(pins, fh)
    append_to_ivfpq_store(emb.filter(F.col("vec_id") % 10 == 7), root)
    fields = json.loads(open(pin_path).read())["assigned"]["fields"]
    assert [f["name"] for f in fields][-2:] == ["__cell", "cell"]
    rows = emb.filter(F.col("vec_id") % 10 == 7).limit(2).collect()
    qpdf = pd.DataFrame(
        {"query_id": [-1, -2], "embedding": [r["embedding"] for r in rows]}
    )
    got = ivfpq_store_topk(spark, root, qpdf, emb, k=1, nprobe=8).toPandas()
    assert sorted(got["vec_id"]) == sorted(r["vec_id"] for r in rows)
