"""Semantic/property tests for operators/pq.py (product quantization)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from python_openetl_spark.io import load_table
from python_openetl_spark.operators import pq, similarity
from tests.conftest import SF_DIR

M, KSUB, ITERS = 8, 16, 3


def _emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


def test_pq_fit_shapes_and_determinism(spark):
    emb = _emb(spark)
    b1 = pq.pq_fit(emb, m=M, ksub=KSUB, iters=ITERS)
    b2 = pq.pq_fit(emb, m=M, ksub=KSUB, iters=ITERS)
    assert b1.shape == (M, KSUB, 64 // M)
    assert np.array_equal(b1, b2)


def test_pq_fit_reduces_quantization_error(spark):
    emb = _emb(spark)
    mat = np.stack(emb.select("embedding").toPandas()["embedding"].to_numpy()).astype(
        np.float64
    )
    dsub = mat.shape[1] // M

    def mse(books):
        total = 0.0
        for s in range(M):
            x = mat[:, s * dsub : (s + 1) * dsub]
            c = books[s]
            d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(-1).min(axis=1)
            total += d2.sum()
        return total

    b0 = pq.pq_fit(emb, m=M, ksub=KSUB, iters=0)
    bf = pq.pq_fit(emb, m=M, ksub=KSUB, iters=ITERS)
    assert mse(bf) <= mse(b0) + 1e-9


def test_pq_encode_invariants(spark):
    emb = _emb(spark)
    books = pq.pq_fit(emb, m=M, ksub=KSUB, iters=ITERS)
    enc = pq_df = pq.pq_encode(emb, books)
    n = emb.count()
    assert enc.count() == n
    stats = enc.select(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
        F.min(F.size("codes")).alias("sz_lo"),
        F.max(F.size("codes")).alias("sz_hi"),
    ).collect()[0]
    assert stats["lo"] >= 0 and stats["hi"] < KSUB
    assert stats["sz_lo"] == M and stats["sz_hi"] == M
    # stored norm is the exact vector norm
    from python_openetl_spark.functions.vectors import norm

    joined = pq_df.join(emb, "vec_id").select(
        (F.abs(F.col("vnorm") - norm(F.col("embedding"))) < 1e-9).alias("ok")
    )
    assert joined.filter(~F.col("ok")).count() == 0


def test_pq_topk_full_recall_at_fixture_scale(spark):
    """With a 100-candidate shortlist the re-ranked PQ top-k equals the
    exact ranking on the sf0.001 fixtures (pinned; the x08 driver row
    asserts only the floor invariant so it stays green at any sf)."""
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id").isin(1, 5, 9)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in similarity.cosine_topk(emb, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in pq.pq_topk(
            emb, q.toPandas(), k=5, m=M, ksub=KSUB, iters=ITERS, rerank_factor=20
        ).collect()
    }
    assert approx == exact


def test_ivf_pq_topk_full_probe_full_recall(spark):
    """nprobe = nlist (no cell pruning) + a 100-candidate shortlist:
    the composed IVF+PQ path must reproduce the exact ranking — any
    divergence is a bug in the cell assignment, code encoding, LUT
    scoring or re-rank, not approximation noise. The x09 driver row
    asserts only the recall-floor invariant so it stays green at any
    sf and nprobe < nlist."""
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id").isin(1, 5, 9)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in similarity.cosine_topk(emb, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in pq.ivf_pq_topk(
            emb,
            q.toPandas(),
            k=5,
            nlist=8,
            nprobe=8,
            m=M,
            ksub=KSUB,
            iters=ITERS,
            rerank_factor=20,
        ).collect()
    }
    assert approx == exact


def test_ivf_pq_topk_pruned_recall_floor(spark):
    """Production-shaped settings (nprobe < nlist, small shortlist)
    still clear a 0.6 recall@5 floor on the fixtures."""
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id").isin(1, 5, 9)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in similarity.cosine_topk(emb, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in pq.ivf_pq_topk(
            emb, q.toPandas(), k=5, nlist=16, nprobe=12, m=M, ksub=KSUB,
            rerank_factor=8,
        ).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.6


def test_pq_topk_empty_queries(spark):
    """Zero queries -> typed empty result, not an np.stack error (the
    cosine_topk_arrow/ivf_topk convention)."""
    import pandas as pd

    emb = _emb(spark)
    empty = pd.DataFrame({"query_id": pd.Series([], dtype="int64"),
                          "embedding": pd.Series([], dtype="object")})
    out = pq.pq_topk(emb, empty, k=5, m=M, ksub=KSUB)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["query_id", "vec_id", "cos_sim", "rank"]
    out2 = pq.ivf_pq_topk(emb, empty, k=5, m=M, ksub=KSUB)
    assert out2.count() == 0
    assert [f.name for f in out2.schema.fields] == ["query_id", "vec_id", "cos_sim", "rank"]


def test_pq_probes_build_arrow_relations_and_keep_job_counts(spark):
    """Both PQ verbs build their query (and probe) relations from Arrow,
    so no pickled-RDD frame (``LogicalRDD``) is left in the result plan,
    and their Spark job counts stay at 10 (pq_topk) and 12 (ivf_pq_topk)
    on a 400 x 16 corpus with 3 queries."""
    import os

    import pandas as pd
    import pyarrow as pa

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((400, 16)).astype(np.float32)
    corpus = spark.createDataFrame(
        pa.table(
            {
                "vec_id": pa.array(np.arange(400, dtype=np.int64)),
                "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            }
        )
    )
    q = pd.DataFrame({"query_id": [1, 5, 9], "embedding": [vecs[1], vecs[5], vecs[9]]})
    sc = spark.sparkContext
    calls = {
        "pq_topk": (lambda: pq.pq_topk(corpus, q, k=5, m=4, ksub=8, iters=2), 10),
        "ivf_pq_topk": (
            lambda: pq.ivf_pq_topk(
                corpus, q, k=5, nlist=8, nprobe=2, m=4, ksub=8, iters=2
            ),
            12,
        ),
    }
    for name, (call, max_jobs) in calls.items():
        group = f"{name}-jobs-{os.getpid()}"
        sc.setJobGroup(group, f"{name} job-count guard")
        try:
            out = call()
            rows = out.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(rows) == 15, name
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in plan, name
        assert len(sc.statusTracker().getJobIdsForGroup(group)) <= max_jobs, name
