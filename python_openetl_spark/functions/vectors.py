"""Vector math over ``ArrayType(FloatType)`` embedding columns, and the
one scoring contract every similarity operator uses (operators/
similarity, knn_join, pq, ivf_store, ivfpq_store, kmeans and
late_interaction call these pieces; none restates them).

Two tiers, per SURVEY §2.3 / the 100 TB design note:

1. **JVM-side expressions** (`dot`, `norm`, `cosine`, the `topk`
   window): built from ``zip_with``/``aggregate`` in DOUBLE — fully
   codegen'd, no Python in the loop, and *bit-identical* to DuckDB's
   sequential ``list_dot_product`` (verified on the fixture
   embeddings), which is what makes cosine values oracle-checkable.
2. **Arrow/numpy kernels** (`unit_rows`, `nearest_cells`,
   `local_topk`): for the O(n·m) brute-force inner loop, a numpy matmul
   per Arrow batch beats per-row expressions by orders of magnitude and
   is the idiomatic Spark escape hatch when built-ins can't express the
   computation shape.

The contract, stated once:

- **Norm floor.** A cosine divides by ``max(‖a‖·‖b‖, NORM_FLOOR)`` and
  a row is normalised by ``max(‖x‖, NORM_FLOOR)``. For every nonzero
  pair that is the plain cosine; a zero-norm vector scores 0.0 against
  everything, instead of failing with DIVIDE_BY_ZERO under ANSI or
  scoring NaN, which Spark orders as the LARGEST double (it would rank
  first for every query).
- **Tie-break.** Results rank by (score desc, id asc), in the JVM
  window and in the numpy kernels alike.
- **Self-exclusion.** A corpus row whose id equals the query id is not
  a candidate for that query, unless the caller opts out (cross-dataset
  linkage, where the id spaces may collide).
- **Local, then global top-k.** A kernel keeps each query's top-k of
  its own batch or block under the same total order, and one
  per-query window keeps the global top-k. Truncating locally under the
  global order never drops a global member (the REPOSE shape, ICDE
  2021), and shuffles O(batches · queries · k) rows, not O(n·m).
- **One cell rule.** A vector's IVF cells, nearest first, are the
  stable descending argsort of ``unit_rows(x) @ centroidsᵀ``; its own
  cell is the first column, the argmax.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: the cosine denominator / normaliser floor (see the module docstring)
NORM_FLOOR = 1e-300


def _as_double(v: Column) -> Column:
    return v.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double (order matches DuckDB)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(_as_double(a), lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def cosine_of_norms(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """:func:`cosine` with both norms already computed, for plans that
    hoist a row's norm out of a join (once per row, not once per pair).
    Given ``norm(a)``/``norm(b)`` it is the same expression, so the
    same doubles."""
    return dot(a, b) / F.greatest(norm_a * norm_b, F.lit(NORM_FLOOR))


def cosine(a: Column, b: Column) -> Column:
    return cosine_of_norms(a, b, norm(a), norm(b))


def topk(
    scored: DataFrame,
    k: int,
    *,
    by: str,
    score: str = "cos_sim",
    id_col: str,
) -> DataFrame:
    """The global top-k window: ``rank`` numbers each ``by`` group's
    rows under (``score`` desc, ``id_col`` asc), and rows ranked past
    ``k`` are dropped. Every column of ``scored`` is kept."""
    w = Window.partitionBy(by).orderBy(F.col(score).desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def empty_topk(spark, query_id_col: str, id_col: str, score: str = "cos_sim") -> DataFrame:
    """The typed empty top-k result (no queries, or nothing to probe):
    degrade to zero rows instead of a driver-side stack error."""
    return spark.createDataFrame(
        [], f"{query_id_col} long, {id_col} long, {score} double, rank int"
    )


def unit_rows(mat: np.ndarray) -> np.ndarray:
    """Rows of ``mat`` scaled to unit norm under the norm floor: a
    zero row stays zero."""
    return mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), NORM_FLOOR)


def nearest_cells(unit: np.ndarray, centroids: np.ndarray, n: int = 1) -> np.ndarray:
    """The cell rule: each row's ``n`` nearest centroids, nearest first,
    as the stable descending argsort of ``unit @ centroidsᵀ`` (ties keep
    the lower cell). ``n=1`` takes the argmax, which is that argsort's
    first column without the sort."""
    scores = unit @ centroids.T
    if n == 1:
        return scores.argmax(axis=1)[:, None]
    return np.argsort(-scores, axis=1, kind="stable")[:, :n]


def local_topk(
    ids: np.ndarray,
    qids: np.ndarray,
    sims: np.ndarray,
    k: int,
    *,
    query_id_col: str,
    id_col: str,
    score: str = "cos_sim",
    exclude_self: bool = True,
) -> pd.DataFrame:
    """The local half of top-k: for each query (column ``qi`` of the
    ``(len(ids), len(qids))`` score matrix ``sims``) keep its ``k`` best
    rows under (score desc, id asc), so truncation here composes with
    the global :func:`topk` window into the exact global answer.
    ``qids`` must not be empty."""
    parts = []
    for qi, qid in enumerate(qids):
        cand_ids, cand = ids, sims[:, qi]
        if exclude_self:
            keep = ids != qid
            cand_ids, cand = ids[keep], cand[keep]
        top = np.lexsort((cand_ids, -cand))[:k]
        parts.append((np.full(top.size, qid, dtype=np.int64), cand_ids[top], cand[top]))
    q, i, s = (np.concatenate(c) for c in zip(*parts))
    return pd.DataFrame({query_id_col: q, id_col: i, score: s})


def l2_normalize(v: Column) -> Column:
    """Unit-normalize an embedding (zero vectors pass through as-is).

    Normalizing at ingest turns every cosine downstream into a plain
    dot product — one multiply-add per dimension instead of three
    aggregates per pair, the standard trick for similarity at scale.
    """
    n = norm(v)
    return F.when(n == 0.0, _as_double(v)).otherwise(
        F.transform(_as_double(v), lambda x: x / n)
    )


def quantize_int8(v: Column) -> Column:
    """Symmetric per-vector int8 quantization: struct(scale, q) with
    ``x ≈ scale * q``, q ∈ [-127, 127].

    4x smaller embeddings = 4x less shuffle/storage for ANN at 100 TB;
    scoring dequantizes on the fly (``dequantize_int8``) or works in
    int8 domain with one final rescale. Deterministic round-half-up via
    floor(x + 0.5), reproducible across engines.
    """
    vd = _as_double(v)
    amax = F.array_max(F.transform(vd, F.abs))
    scale = F.when(amax == 0.0, F.lit(1.0)).otherwise(amax / F.lit(127.0))
    q = F.transform(vd, lambda x: F.floor(x / scale + 0.5).cast("tinyint"))
    return F.struct(scale.alias("scale"), q.alias("q"))


def dequantize_int8(qv: Column) -> Column:
    """Inverse of quantize_int8: array<double> ≈ the original vector."""
    return F.transform(qv["q"], lambda x: x.cast("double") * qv["scale"])
