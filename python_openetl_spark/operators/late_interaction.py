"""Late-interaction retrieval: MaxSim scoring (Khattab & Zaharia,
ColBERT, SIGIR'20) — the modern middle ground between single-vector
dense retrieval (x01–x09: one dot per doc, no term granularity) and
lexical BM25 (d34: exact terms, no semantics): every query token
keeps its own vector and scores ``Σ_q max_d (q_i · d_j)``, letting
each query token softly align with its best document token.

Here the per-token vectors are the ``m`` fixed-width sub-vectors of
the stored embedding (the PQ subspace split, operators/pq.py — a
deterministic stand-in for a real per-token encoder whose output
schema, ``array<array<float>>`` per doc, is exactly what this
operator consumes at production).

Execution shape: the whole MaxSim is ONE nested higher-order
expression (transform → round(dot) → array_max → decimal fold) inside
the scan — whole-stage codegen, no UDF, no explode: the q×d×m×m dot
lattice never materializes as rows. The query side is broadcast; the
corpus side streams. Top-k is the shared per-query window
(``functions.vectors.topk``).

Determinism contract: each sub-vector dot is a sequential fold
rounded to 9 decimals (engine fold orders agree; rounding absorbs the
last-ulp risk — the x03 device), the per-query-token max is exact,
and the final sum of ``m`` maxes accumulates in DECIMAL(28,9) —
order-independent, bit-matchable by the SQL oracle.

At 100 TB: brute-force MaxSim is O(corpus) per query like x01 —
production composes the same scoring expression AFTER an IVF/PQ or
BM25 candidate stage (x09/x10 pattern); only the scoring kernel
changes, the pruning dataflow is identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from python_openetl_spark.functions.vectors import empty_topk, topk


def _subvectors(v: Column, m: int, dsub: int) -> Column:
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.slice(v, s * F.lit(dsub) + F.lit(1), dsub),
    )


def maxsim_score(qv: Column, dv: Column, *, m: int, dsub: int) -> Column:
    """MaxSim of two flat vectors split into ``m`` sub-vectors."""
    dot = lambda a, b: F.round(  # noqa: E731
        F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        9,
    )
    maxes = F.transform(
        _subvectors(qv, m, dsub),
        lambda qi: F.array_max(
            F.transform(_subvectors(dv, m, dsub), lambda dj: dot(qi, dj))
        ),
    )
    return F.aggregate(
        maxes,
        F.lit(0).cast("decimal(28,9)"),
        # decimal + widens precision each step; cast back so the
        # accumulator type stays fixed (HOF folds are type-strict)
        lambda acc, x: (acc + x.cast("decimal(20,9)")).cast("decimal(28,9)"),
    ).cast("double")


def maxsim_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_rows: int | None = 100_000,
) -> DataFrame:
    """Exact MaxSim top-k: ``(query_id, vec_id, maxsim, rank)``.

    ``queries`` must be driver-bounded (broadcast). ``max_rows`` is
    the x02-style brute-force guard: refuse silent O(n·q) scoring on
    a corpus that should be going through a candidate stage first.
    """
    if max_rows is not None:
        n = corpus.count()
        if n > max_rows:
            raise ValueError(
                f"maxsim_topk: corpus has {n} rows > max_rows={max_rows}; "
                "compose with an IVF/BM25 candidate stage (x09/x10 pattern) "
                "or raise max_rows explicitly"
            )
    probe = corpus.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    if probe is None:
        # empty corpus (or all-NULL vectors): typed empty result
        return empty_topk(corpus.sparkSession, query_id_col, id_col, "maxsim")
    dim = len(probe[0])
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    dsub = dim // m
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    )
    d = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__dv")
    )
    scored = d.join(F.broadcast(q), F.col(id_col) != F.col("query_id")).select(
        "query_id",
        id_col,
        maxsim_score(F.col("__qv"), F.col("__dv"), m=m, dsub=dsub).alias("maxsim"),
    )
    return topk(scored, k, by="query_id", score="maxsim", id_col=id_col)
