"""Distributed kNN JOIN — both sides are DataFrames, nothing is
collected to the driver.

The batched kernel (``similarity.cosine_topk_arrow``) closes over a
driver-side query matrix, which is the right shape only when the query
set is a handful of anchors. A kNN *join* (dataset-vs-dataset linkage:
dedup across snapshots, nearest-example attribution) has a
corpus-proportional query set, so the query side must stay distributed.
Two strategies:

1. :func:`cosine_knn_join` — EXACT block nested-loop GEMM. Corpus and
   queries are hash-split into blocks, each side replicated across the
   other's block axis, and every (corpus-block, query-block) pair meets
   in one cogrouped-Arrow task that does a bounded-size numpy matmul
   and emits its local top-k; a final per-query window keeps the global
   top-k. Exact kNN join is inherently O(n·q) FLOPs — this form
   distributes them with per-task memory capped at
   (corpus_block_rows + query_block_rows) vectors and shuffle volume
   n·QB + q·CB (the classic block-replication trade). The shortlist is
   re-scored with the JVM ``cosine``, so the result is bit-identical to
   ``similarity.cosine_topk`` (same expression, same (cos desc, id)
   tie-break, zero-norm rows included) and exact-SQL oracles stay
   valid.
2. :func:`ivf_knn_join` — APPROXIMATE cell co-partitioned join, the
   100 TB shape: assign corpus vectors to their nearest IVF cell,
   assign each query to its ``nprobe`` nearest cells (``ivf_store``'s
   ``_assign_fn``/``_probe_cells``), equi-join on the
   cell id (plus a query-block axis to bound hot cells), GEMM within
   each co-partition, exact re-rank per query. FLOPs drop to
   ~``nprobe/nlist`` of the exact join; recall is tunable and must be
   stated as a floor, not equality (see workload/llm10.py x17).

Reference parity: the reference has no vector surface; this extends
its batch-linkage verbs (operations.py:515-609 incremental sync) to
the embedding-similarity join a training-data pipeline needs.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_openetl_spark.functions.vectors import (
    cosine,
    empty_topk,
    local_topk,
    topk,
    unit_rows,
)
from python_openetl_spark.operators.ivf_store import (
    _assign_fn,
    _load_assigned,
    _probe_cells,
    _read_centroids,
    current_index_dir,
)
from python_openetl_spark.operators.kmeans import train_coarse_centroids

_OUT_SCHEMA = "{qid} long, {cid} long, cos_sim double"


def _gemm_topk_kernel(
    id_col: str, query_id_col: str, vec_col: str, k: int, exclude_self: bool = True
):
    """Cogrouped-Arrow kernel: one bounded GEMM per (corpus-block,
    query-block) co-partition, emitting each query's block-local top-k
    (``functions.vectors.local_topk``, as similarity.cosine_topk_arrow
    does), so block truncation composes with the final window into the
    exact global answer.

    ``exclude_self`` masks corpus rows whose id equals the query id —
    right for self-query shapes (dedup: queries drawn from the corpus),
    WRONG for cross-dataset linkage where the two id spaces may collide
    numerically (an unrelated corpus row would be silently dropped) —
    callers joining distinct datasets pass ``exclude_self=False``
    (r7 verdict #3)."""

    def kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                query_id_col: pd.Series(dtype=np.int64),
                id_col: pd.Series(dtype=np.int64),
                "cos_sim": pd.Series(dtype=np.float64),
            }
        )
        if left.empty or right.empty:
            return empty
        ids = left[id_col].to_numpy(dtype=np.int64)
        mat = unit_rows(np.stack(left[vec_col].to_numpy()).astype(np.float64))
        qids = right[query_id_col].to_numpy(dtype=np.int64)
        qnorm = unit_rows(np.stack(right["__qv"].to_numpy()).astype(np.float64))
        return local_topk(
            ids, qids, mat @ qnorm.T, k,  # (corpus_block, query_block)
            query_id_col=query_id_col, id_col=id_col, exclude_self=exclude_self,
        )

    return kernel


def _probe_queries(
    queries: DataFrame,
    cnorm: np.ndarray,
    cells: np.ndarray,
    nprobe: int,
    qb: int,
    query_id_col: str,
    vec_col: str,
) -> DataFrame:
    """Each query row fanned out to its ``nprobe`` nearest cells
    (``ivf_store._probe_cells``) in one Arrow pass, plus its query-block
    id ``__qb``. The probe list stays distributed (contrast ivf_topk's
    driver-side probe pairs, fine for anchors, wrong for a join-sized
    set)."""

    def probe(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            qvecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            idx = np.repeat(np.arange(len(pdf)), nprobe)
            yield pd.DataFrame(
                {
                    query_id_col: pdf[query_id_col].to_numpy()[idx],
                    "__qv": pdf[vec_col].to_numpy()[idx],
                    "cell": _probe_cells(qvecs, cnorm, cells, nprobe)
                    .reshape(-1)
                    .astype(np.int32),
                }
            )

    return queries.select(query_id_col, vec_col).mapInPandas(
        probe, schema=f"{query_id_col} long, __qv array<float>, cell int"
    ).withColumn(
        "__qb", F.pmod(F.xxhash64(F.col(query_id_col)), F.lit(qb)).cast("int")
    )


def _block_join(
    c: DataFrame,
    q: DataFrame,
    keys: list,
    k: int,
    query_id_col: str,
    id_col: str,
    vec_col: str,
    exclude_self: bool,
) -> DataFrame:
    """Cogroup the replicated corpus and query sides on ``keys``, run
    the GEMM kernel per co-partition, and keep each query's global
    shortlist of ``_shortlist_size(k)`` candidates."""
    local = (
        c.groupBy(*keys)
        .cogroup(q.groupBy(*keys))
        .applyInPandas(
            _gemm_topk_kernel(
                id_col, query_id_col, vec_col, _shortlist_size(k), exclude_self
            ),
            schema=_OUT_SCHEMA.format(qid=query_id_col, cid=id_col),
        )
    )
    return topk(local, _shortlist_size(k), by=query_id_col, id_col=id_col)


def _shortlist_size(k: int) -> int:
    """GEMM selects ``k + max(4, k)`` candidates before the exact
    re-score. The margin SCALES with k (r9 advice): a fixed +4 can
    still drop a true top-k neighbor when more than 4 distinct
    candidates sit within GEMM ULP noise at the k boundary (dense
    near-duplicate clusters). k extra slots bound that failure to
    "every one of the top 2k candidates is ULP-tied", while keeping
    the re-score cost output-sized (≤ 2k·|queries| pairs)."""
    return k + max(4, k)


def _exact_rescore_topk(
    candidates: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    query_id_col: str,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """GEMM SELECTS, the exact expression SCORES: numpy's dgemm result
    differs in the last ULP with the matrix SHAPE (the same pair scored
    in a co-partition holding N queries and one holding N' queries can
    disagree), so GEMM scores are not bit-stable across plan shapes —
    unusable under an exact value-hash oracle. Shortlisted candidate
    pairs are therefore re-scored with the sequential JVM cosine
    (functions/vectors.py — the expression DuckDB's list_dot_product
    matches bit-for-bit, the x01/x02 contract) and re-ranked on the
    exact values. Cost: two id-keyed joins over (k + margin)·|queries|
    rows — output-sized, not corpus-sized."""
    rescored = (
        candidates.select(query_id_col, id_col)
        .join(corpus.select(id_col, vec_col), id_col)
        .join(
            queries.select(query_id_col, F.col(vec_col).alias("__qv")),
            query_id_col,
        )
        .select(
            query_id_col,
            id_col,
            cosine(F.col(vec_col), F.col("__qv")).alias("cos_sim"),
        )
    )
    return topk(rescored, k, by=query_id_col, id_col=id_col)


def cosine_knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
    corpus_block_rows: int = 65_536,
    query_block_rows: int = 4_096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact distributed kNN join (block nested-loop GEMM).

    Block counts derive from the actual side sizes (two count()
    actions — metadata-scale), so per-task memory is capped no matter
    how the query set grows: 10× more queries means 10× more query
    blocks, not a 10× larger driver matrix. Neither side is ever
    collected.

    ``exclude_self=True`` (the default, the x16 dedup shape) drops
    corpus rows whose id equals the query id; pass ``False`` for true
    cross-dataset linkage where the id spaces may collide."""
    spark = corpus.sparkSession
    n_c, n_q = corpus.count(), queries.count()
    if n_c == 0 or n_q == 0:
        return empty_topk(spark, query_id_col, id_col)
    cb = max(1, math.ceil(n_c / corpus_block_rows))
    qb = max(1, math.ceil(n_q / query_block_rows))
    c = corpus.select(
        id_col,
        vec_col,
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(cb)).cast("int").alias("__cb"),
    ).withColumn("__qb", F.explode(F.sequence(F.lit(0), F.lit(qb - 1))))
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qv"),
        F.pmod(F.xxhash64(F.col(query_id_col)), F.lit(qb)).cast("int").alias("__qb"),
    ).withColumn("__cb", F.explode(F.sequence(F.lit(0), F.lit(cb - 1))))
    cand = _block_join(
        c, q, ["__cb", "__qb"], k, query_id_col, id_col, vec_col, exclude_self
    )
    return _exact_rescore_topk(
        cand, corpus, queries, query_id_col, id_col, vec_col, k
    )


def ivf_knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
    nlist: int = 16,
    nprobe: int = 4,
    query_block_rows: int = 4_096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    train_iters: int = 2,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate distributed kNN join, co-partitioned by IVF cell.

    Corpus vectors land in their single nearest cell; each query is
    exploded to its ``nprobe`` nearest cells; the equi-join on the cell
    id meets in cogrouped-Arrow GEMM tasks. A secondary query-block
    axis caps hot cells (a cell probed by many queries splits into
    bounded co-partitions instead of one giant task). FLOPs are
    ~``nprobe/nlist`` of the exact join; recall is tunable, so callers
    must state floors, not equality.

    The coarse quantizer is k-means-trained (operators/kmeans.py —
    ``train_iters`` Lloyd sweeps, one corpus scan each, only nlist x
    dim scalars on the driver; r7 verdict #2): sampled centroids track
    corpus density unevenly, giving hot cells (skewed probe tasks) and
    weaker recall per nprobe at scale."""
    spark = corpus.sparkSession
    cnorm = train_coarse_centroids(
        corpus,
        nlist=nlist,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        iters=train_iters,
    )
    n_q = queries.count()
    if cnorm.shape[0] == 0 or n_q == 0:
        return empty_topk(spark, query_id_col, id_col)
    nprobe = min(nprobe, cnorm.shape[0])
    qb = max(1, math.ceil(n_q / query_block_rows))
    cells = np.arange(cnorm.shape[0], dtype=np.int32)
    c = corpus.select(id_col, vec_col).mapInPandas(
        _assign_fn(cnorm, id_col, vec_col),
        schema=f"{id_col} long, {vec_col} array<float>, cell int",
    ).withColumn("__qb", F.explode(F.sequence(F.lit(0), F.lit(qb - 1))))
    q = _probe_queries(queries, cnorm, cells, nprobe, qb, query_id_col, vec_col)
    cand = _block_join(
        c, q, ["cell", "__qb"], k, query_id_col, id_col, vec_col, exclude_self
    )
    return _exact_rescore_topk(
        cand, corpus, queries, query_id_col, id_col, vec_col, k
    )


def ivf_store_knn_join(
    spark,
    root: str,
    queries: DataFrame,
    *,
    k: int = 3,
    nprobe: int = 4,
    query_block_rows: int = 4_096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    where: str | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """kNN join of a distributed query DataFrame against the PERSISTED
    IVF store (operators/ivf_store.py) — batch scoring against an
    index that already exists, which is how production linkage
    actually runs: :func:`ivf_knn_join` retrains a quantizer and
    re-assigns the corpus on every call (right for ad-hoc joins),
    while the store has already paid both costs once — this verb reads
    the store's materialized ``cell=`` partitions and trained
    centroids, so the corpus side costs a partition-laid-out scan and
    ZERO training at join time, and every append/rebuild/vacuum since
    build is automatically visible (one pointer resolve, the
    ivf_store_topk snapshot rule).

    Queries fan out to their ``nprobe`` nearest cells in one Arrow
    pass over the broadcast centroid matrix (nlist × dim scalars);
    the equi-join on the cell id meets in the same cogrouped GEMM
    kernel as x16/x17, with the query-block axis bounding hot cells.
    ``where`` is the store-level pre-filter (attribute columns from
    ``build_ivf_store(attr_cols=...)``): non-matching corpus rows die
    inside the scan before any replication or distance math, and
    top-k stays exactly k among the matching subset. At
    ``nprobe = nlist`` the join is exact (every cell probed), which
    is what makes a brute-force filtered SQL a full value-hash oracle
    (the x07/x20/x21 device); production nprobe inherits IVF's
    probed-cells recall contract."""
    idx_dir = current_index_dir(root)
    cells, cnorm = _read_centroids(spark, idx_dir)
    n_q = queries.count()
    if cnorm.shape[0] == 0 or n_q == 0:
        return empty_topk(spark, query_id_col, id_col)
    nprobe = min(nprobe, cnorm.shape[0])
    qb = max(1, math.ceil(n_q / query_block_rows))
    assigned = _load_assigned(spark, idx_dir, id_col)
    if where is not None:
        assigned = assigned.filter(F.expr(where))
    c = assigned.select(
        id_col, vec_col, F.col("cell").cast("int").alias("cell")
    ).withColumn("__qb", F.explode(F.sequence(F.lit(0), F.lit(qb - 1))))
    # store cell ids come from the centroid table, not a dense
    # 0..nlist-1 range: _probe_cells maps through `cells`
    q = _probe_queries(queries, cnorm, cells, nprobe, qb, query_id_col, vec_col)
    cand = _block_join(
        c, q, ["cell", "__qb"], k, query_id_col, id_col, vec_col, exclude_self
    )
    return _exact_rescore_topk(
        cand, assigned, queries, query_id_col, id_col, vec_col, k
    )
