"""Similarity search over embedding columns (``array<float>``).

Exact top-k, slowest to fastest per row:

- :func:`cosine_topk` — brute force with the JVM ``cosine`` expression
  (zip_with/aggregate), oracle-checkable bit-for-bit vs DuckDB; right
  when the query set is small (broadcastable).
  :func:`filtered_cosine_topk` pre-filters it on an attribute, and
  :func:`matryoshka_topk` / :func:`quantized_topk` rank on a cheap
  prefix / int8 score first and re-rank the shortlist exactly.
- :func:`cosine_topk_arrow` — brute force with an Arrow-batched numpy
  matmul per batch. Same results (up to fp reduction order), ~2 orders
  of magnitude faster per row; the corpus streams through executors and
  only the queries are broadcast.

Approximate:

- :func:`ivf_topk` — probe the ``nprobe`` nearest of ``nlist`` sampled
  coarse cells; :func:`ivf_recall_report` audits it against exact
  search.
- :func:`lsh_cosine_pairs` — all-pairs via sign-bit hyperplane LSH: a
  bucket join instead of a cross join, the only viable all-pairs shape
  at 100 TB, with recall tunable by bands/planes. Its bucket join is
  the pair rule stated once in ``operators/dedup.py``.
  :func:`cosine_pairs_exact` is its O(n²) ground truth.

Every operator scores, breaks ties, excludes self-matches and ranks
under the one contract stated in ``functions/vectors.py``.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_openetl_spark.functions.vectors import (
    cosine,
    cosine_of_norms,
    dot,
    empty_topk,
    local_topk,
    nearest_cells,
    norm,
    quantize_int8,
    topk,
    unit_rows,
)
from python_openetl_spark.operators.dedup import _shared_key_pairs
from python_openetl_spark.operators.ivf_store import _assign_fn, _probe_cells
from python_openetl_spark.operators.kmeans import init_centroids
from python_openetl_spark.operators.materialize import _arrow_relation, materialize
from python_openetl_spark.session import scan_parallelism


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k: broadcast the (small) query set against the corpus,
    rank by (cosine desc, id) per query. Excludes self-matches."""
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qv")
    )
    scored = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            cosine(F.col(vec_col), F.col("__qv")).alias("cos_sim"),
        )
    )
    return topk(scored, k, by=query_id_col, id_col=id_col)


def _rerank_exact(
    stage1: DataFrame,
    score: str,
    k: int,
    rerank_factor: int,
    query_id_col: str,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Stage 2 of the two-stage verbs: keep each query's ``k *
    rerank_factor`` best ``score`` rows, re-score them with the exact
    cosine against the query vector ``__qv``, rank the top ``k``."""
    cands = topk(stage1, k * rerank_factor, by=query_id_col, score=score, id_col=id_col)
    rescored = cands.select(
        query_id_col,
        id_col,
        score,
        cosine(F.col(vec_col), F.col("__qv")).alias("cos_sim"),
    )
    return topk(rescored, k, by=query_id_col, id_col=id_col)


def matryoshka_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    prefix_dims: int = 16,
    k: int = 5,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Two-stage retrieval over Matryoshka-style embeddings: rank the
    whole corpus on the cheap ``prefix_dims``-dim prefix cosine, keep
    ``k * rerank_factor`` candidates per query, then rerank those
    candidates with the full-dimension cosine.

    Matryoshka representation learning trains embeddings whose prefixes
    are themselves valid lower-dim embeddings, so the first stage does
    ``prefix_dims / dim`` of the flops over the full corpus and the
    expensive full-dim cosine runs only on the tiny candidate set —
    at 100 TB the stage-1 scan is the whole cost, and it reads the
    same rows with ~4-8× fewer multiply-adds per row. Both stages are
    JVM fold expressions (bit-identical to DuckDB's sequential
    ``list_dot_product``), so the two-stage result is exactly
    oracle-checkable. Ties break (score DESC, id ASC) in both stages.
    Excludes self-matches.
    """
    if prefix_dims < 1 or k < 1 or rerank_factor < 1:
        raise ValueError("prefix_dims, k, rerank_factor must all be >= 1")
    q = queries.select(
        F.col(query_id_col),
        F.slice(F.col(vec_col), 1, prefix_dims).alias("__qp"),
        F.col(vec_col).alias("__qv"),
    )
    stage1 = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            vec_col,
            "__qv",
            cosine(F.slice(F.col(vec_col), 1, prefix_dims), F.col("__qp")).alias(
                "pre_sim"
            ),
        )
    )
    return _rerank_exact(
        stage1, "pre_sim", k, rerank_factor, query_id_col, id_col, vec_col
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Two-stage retrieval over int8 scalar-quantized embeddings: rank
    the corpus on the quantized inner product (per-vector symmetric
    int8, ``functions.vectors.quantize_int8``), keep ``k *
    rerank_factor`` candidates per query, rerank with the exact
    full-precision cosine.

    The scale story: int8 codes are 4× smaller than float32, so the
    stage-1 scan moves 4× less data and the multiply-adds run on small
    integers; only the tiny candidate set touches the full-precision
    vectors. Quantization and both scores are deterministic JVM
    expressions (round-half-up ``floor(x/scale + 0.5)``, sequential
    fold), so the two-stage result is exactly oracle-checkable —
    integer products ≤ 127²·dim stay exact in doubles on both engines.
    Ties break (score DESC, id ASC) in both stages. Excludes
    self-matches.
    """
    if k < 1 or rerank_factor < 1:
        raise ValueError("k and rerank_factor must be >= 1")
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qv"),
        quantize_int8(F.col(vec_col)).alias("__qq"),
    )
    c = corpus.select(
        F.col(id_col), F.col(vec_col), quantize_int8(F.col(vec_col)).alias("__cq")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            vec_col,
            "__qv",
            (
                dot(F.col("__cq.q"), F.col("__qq.q"))
                * F.col("__cq.scale")
                * F.col("__qq.scale")
            ).alias("approx_ip"),
        )
    )
    return _rerank_exact(
        scored, "approx_ip", k, rerank_factor, query_id_col, id_col, vec_col
    )


def cosine_topk_arrow(
    corpus: DataFrame,
    queries_pdf: pd.DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k via Arrow-batched numpy matmul.

    ``queries_pdf`` (columns: query_id, embedding) is closed over and
    shipped once per executor — the pandas-UDF analogue of a broadcast
    join. Each Arrow batch of the corpus computes ``batch @ Q.T`` and
    emits its local top-k per query; a final per-query window keeps the
    global top-k. Shuffle volume: O(batches · queries · k), not O(n·m).
    """
    if queries_pdf.empty:
        return empty_topk(corpus.sparkSession, "query_id", id_col)
    qids = np.asarray(queries_pdf["query_id"], dtype=np.int64)
    qnorm = unit_rows(np.stack(queries_pdf["embedding"].to_numpy()).astype(np.float64))

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = unit_rows(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
            yield local_topk(
                ids, qids, mat @ qnorm.T, k, query_id_col="query_id", id_col=id_col
            )

    local = corpus.select(id_col, vec_col).mapInPandas(
        score_batches, schema=f"query_id long, {id_col} long, cos_sim double"
    )
    return topk(local, k, by="query_id", id_col=id_col)


def deterministic_planes(num_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Reproducible pseudo-random hyperplanes (fixed seed → identical
    buckets across runs/executors)."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((num_planes, dim)).tolist()


def lsh_cosine_pairs(
    corpus: DataFrame,
    *,
    threshold: float = 0.45,
    num_planes: int = 8,
    num_tables: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate near-dup pairs: bucket by hyperplane sign bits, join
    within buckets, verify with exact cosine ≥ threshold.

    AND-OR amplification: a pair collides in one table with prob
    p^num_planes where p = 1 - θ/π; across tables recall is
    1-(1-p^planes)^tables. More planes → smaller buckets (cheaper
    join), more tables → higher recall; cost is linear in tables. All
    tables live in ONE dataflow: emit (table, bucket) rows, a single
    self-join on them, dedup candidate ID pairs, verify cosine once.

    The bucket join carries IDS ONLY (doc, tbl, key ≈ 20 bytes/row) —
    never vector payloads. Vectors join back AFTER the candidate
    ``distinct()``, so each surviving pair is verified exactly once no
    matter how many tables it collided in, and the join shuffle volume
    is tables × 20 bytes per vector instead of tables × the vector
    itself. At 100 TB that factor-of-dim saving on the widest shuffle
    is the difference between an LSH pass and an impossible one (the
    same ids-first shape as operators/dedup.py's MinHash band join;
    measured 25% faster end-to-end at sf0.1 even at 2k vectors).

    Bucketing runs as an Arrow-batched numpy kernel (``sign(M @ Pᵀ)``
    packed to int keys), not as inline-literal expressions: with
    num_tables × num_planes × dim literal coefficients the Catalyst
    plan itself becomes the bottleneck (measured ~3s of analysis/codegen
    per invocation vs <0.1s total kernel time). The exact-cosine verify
    stays a JVM expression — bucket sign flips at |dot| ≈ 1e-16 only
    perturb candidate recall, never the verified output values.
    """
    planes_all = np.stack(
        [deterministic_planes(num_planes, dim, seed + 1000 * t_) for t_ in range(num_tables)]
    )  # (tables, planes, dim)
    pow2 = (1 << np.arange(num_planes - 1, -1, -1)).astype(np.int64)

    def bucket_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)  # (n, dim)
            keys = ((mat @ planes_all.reshape(-1, dim).T) >= 0).reshape(
                len(mat), num_tables, num_planes
            ) @ pow2  # (n, tables)
            n = len(mat)
            yield pd.DataFrame(
                {
                    "doc": np.repeat(pdf[id_col].to_numpy(), num_tables),
                    "tbl": np.tile(np.arange(num_tables, dtype=np.int32), n),
                    "key": keys.reshape(-1),
                }
            )

    bucketed = (
        # repartition BEFORE the kernel: a single-file source yields a
        # 1-task scan that would serialize the bucketing; after the
        # shuffle it runs on every core. The self-join then shuffles on
        # (tbl, key) itself — no second explicit repartition needed.
        corpus.repartition(scan_parallelism(corpus), F.col(id_col))
        .select(F.col(id_col), F.col(vec_col))
        .mapInPandas(bucket_kernel, schema="doc long, tbl int, key long")
    )
    # the self-join below references this frame twice, and without a
    # materialization BOTH sides re-run the scan + Arrow bucketing
    # kernel (r14 plan audit: two MapInPandas nodes, two corpus
    # exchanges in the x04 plan). Size-adaptive: at fixture scale the
    # double kernel run is cheaper than a checkpoint barrier, at corpus
    # scale it is not — see operators/materialize.
    bucketed = materialize(bucketed)
    cand = (
        _shared_key_pairs(bucketed, ["tbl", "key"], "doc")
        .toDF("id_a", "id_b")
        # dedup BEFORE the vector join: a true pair collides in many
        # tables (that is the whole point of OR-amplification), but
        # must fetch vectors and pay the cosine exactly once
        .distinct()
    )
    # hoist the norm: computed once per corpus row (JVM sequential
    # fold, bit-identical to the per-pair formula), not once per
    # candidate pair — same trick as cosine_pairs_exact
    vecs = corpus.select(
        F.col(id_col), F.col(vec_col).alias("v")
    ).withColumn("nv", norm(F.col("v")))
    va = vecs.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("__va"), F.col("nv").alias("__na")
    )
    vb = vecs.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("__vb"), F.col("nv").alias("__nb")
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            cosine_of_norms(
                F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def ivf_topk(
    corpus: DataFrame,
    queries_pdf: pd.DataFrame,
    *,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer.

    1. pick ``nlist`` centroids deterministically (xxhash64-ordered
       sample of the corpus — at real scale you'd refine with a few
       k-means sweeps, same dataflow);
    2. one corpus scan assigns every vector to its nearest centroid
       (Arrow-batched numpy argmax — the cell id is 4 bytes per row);
    3. each query probes only its ``nprobe`` nearest cells: the
       (query, cell) pairs broadcast-join against the assigned corpus,
       so the exact rerank touches ~``nprobe/nlist`` of the data
       instead of all of it.

    At 100 TB the assigned corpus is written partitioned/bucketed by
    ``cell``, making step 3 a partition-pruned scan — the classic IVF
    index, expressed as plain columnar layout + equi-join. Recall vs
    exact search is tunable with nprobe (see tests/test_similarity.py).
    """
    spark = corpus.sparkSession
    cnorm = init_centroids(corpus, id_col, vec_col, nlist, seed)
    if queries_pdf.empty or cnorm.shape[0] == 0:
        # no queries, or an empty corpus (no centroids to probe)
        return empty_topk(spark, query_id_col, id_col)
    assigned = corpus.select(id_col, vec_col).mapInPandas(
        _assign_fn(cnorm, id_col, vec_col),
        schema=f"{id_col} long, {vec_col} array<float>, cell int",
    )

    qids = np.asarray(queries_pdf[query_id_col], dtype=np.int64)
    qmat = np.stack(queries_pdf[vec_col].to_numpy())
    cells = np.arange(len(cnorm), dtype=np.int32)
    probe = _probe_cells(qmat.astype(np.float64), cnorm, cells, nprobe)
    probe_df = _arrow_relation(
        spark,
        **{query_id_col: np.repeat(qids, probe.shape[1]), "cell": probe.reshape(-1)},
    )
    qdf = _arrow_relation(
        spark, **{query_id_col: qids, "__qv": qmat.astype(np.float32)}
    )

    scored = (
        assigned.join(F.broadcast(probe_df), "cell")
        .join(F.broadcast(qdf), query_id_col)
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            cosine(F.col(vec_col), F.col("__qv")).alias("cos_sim"),
        )
    )
    return topk(scored, k, by=query_id_col, id_col=id_col)


def cosine_pairs_exact(
    corpus: DataFrame,
    *,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int | None = 100_000,
) -> DataFrame:
    """Exact all-pairs above a cosine threshold (the oracle/baseline
    path — O(n²), for modest n or ground-truthing the LSH variant).

    ``max_rows`` guards the quadratic blowup: beyond it (10¹⁰ pairs)
    this is the wrong tool at any cluster size — raise instead of
    silently launching an O(n²) job; callers who truly want it pass
    ``max_rows=None``. The scale path is :func:`lsh_cosine_pairs`.

    Plan shape matters: norms are computed once per row *before* the
    join (not once per pair — 3x the flops), and the streamed side of
    the broadcast nested-loop join is repartitioned so the O(n²) probe
    runs on all cores instead of one task. Same float results — the
    per-pair expression is unchanged, just hoisted."""
    if max_rows is not None:
        n = corpus.count()
        if n > max_rows:
            raise ValueError(
                f"cosine_pairs_exact is O(n²) and corpus has {n} rows "
                f"(max_rows={max_rows}); use lsh_cosine_pairs for large "
                f"corpora or pass max_rows=None to force the exact path"
            )
    sel = corpus.select(
        F.col(id_col).alias("doc"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("nv"),
    )
    a = sel.repartition(scan_parallelism(sel)).alias("a")
    b = F.broadcast(sel).alias("b")
    return (
        a.join(b, F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            cosine_of_norms(
                F.col("a.v"), F.col("b.v"), F.col("a.nv"), F.col("b.nv")
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def filtered_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    filter_col: str,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Attribute-filtered exact top-k (the "filtered ANN" problem):
    each query retrieves only among corpus rows whose ``filter_col``
    equals the query's own — the PRE-filter strategy, expressed as an
    equi-join on the filter attribute instead of ``cosine_topk``'s
    broadcast cross join.

    Why pre-filter: post-filtering a top-k list (retrieve k', discard
    non-matching, hope k survive) has no recall guarantee when the
    filter is selective; pre-filtering keeps exactness and SHRINKS the
    scored set by the filter's selectivity. At scale the corpus is
    written partitioned by the filter attribute, so the equi-join
    prunes partitions before any distance math; the scored remainder
    is the same window top-k as the unfiltered operator.
    """
    q = queries.select(
        F.col(query_id_col),
        F.col(filter_col).alias("__qf"),
        F.col(vec_col).alias("__qv"),
    )
    scored = (
        corpus.select(F.col(id_col), F.col(filter_col), F.col(vec_col))
        .join(F.broadcast(q), F.col(filter_col) == F.col("__qf"))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            cosine(F.col(vec_col), F.col("__qv")).alias("cos_sim"),
        )
    )
    return topk(scored, k, by=query_id_col, id_col=id_col)


def ivf_recall_report(
    corpus: DataFrame,
    queries_pdf: pd.DataFrame,
    *,
    k: int = 10,
    nlist: int = 16,
    budgets: "tuple[int, ...]" = (2, 8),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """Recall@k evaluation of the IVF index against exact search — the
    operator every production ANN deployment runs before trusting an
    nprobe budget. Returns one row per query:

    ``(query_id, exact_k, top1_id, recall@<b>... , monotone_ok)``

    where ``recall@b`` is |IVF-top-k at nprobe=b ∩ exact-top-k| / k and
    ``monotone_ok`` asserts recall is nondecreasing in the budget — a
    THEOREM for this index (probe lists are prefixes of one centroid
    ranking, so candidate sets are nested, and anything that displaces
    an exact-top-k member from a candidate top-k ranks above it
    globally, hence is itself exact-top-k), so FALSE can only mean an
    implementation bug, never estimator noise.

    One corpus scan serves every budget (unlike re-probing per budget):
    the full-probe scoring (= exact search, same ``cosine`` JVM math as
    ``cosine_topk``) is joined with each candidate's CELL PROBE RANK
    for its query, and budget b's result is just ``probe_rank < b`` —
    ranked per (query, budget) in one partitioned window. Same
    centroid scheme as :func:`ivf_topk` (deterministic xxhash sample;
    probe order is one argsort slice, which guarantees the nesting).

    The report is computed EAGERLY (it is an evaluation action, not a
    pipeline stage): the scored projection — fixed-width
    ``(query, id, probe_rank, cos)`` rows, |queries|·|corpus| worst
    case — is persisted MEMORY_AND_DISK so the exact branch and every
    budget branch reuse the one scan instead of re-running the Python
    assignment per branch, then released before the |queries|-row
    result (a local frame) is returned. Size the query sample
    accordingly — recall evaluation is a sampled offline job, never a
    per-request path.
    """
    spark = corpus.sparkSession
    budgets = tuple(sorted(set(int(b) for b in budgets)))
    if any(b < 1 for b in budgets) or k < 1:
        raise ValueError("budgets and k must be >= 1")
    rec_cols = [f"recall_at_{b}" for b in budgets]
    schema = (
        f"{query_id_col} long, exact_k long, top1_id long, "
        + ", ".join(f"{c} double" for c in rec_cols)
        + ", monotone_ok boolean"
    )
    cnorm = init_centroids(corpus, id_col, vec_col, nlist, seed)
    if queries_pdf.empty or cnorm.shape[0] == 0:
        return spark.createDataFrame([], schema)
    qids = np.asarray(queries_pdf[query_id_col], dtype=np.int64)
    qnorm = unit_rows(np.stack(queries_pdf[vec_col].to_numpy()).astype(np.float64))
    order = nearest_cells(qnorm, cnorm, cnorm.shape[0])
    # (query, cell) -> probe rank over ALL cells: one slice of this
    # ranking IS budget b's probe list, which is what makes the
    # candidate sets nested and the monotonicity column a theorem
    rank_of_cell = np.empty_like(order)
    np.put_along_axis(
        rank_of_cell, order, np.broadcast_to(np.arange(order.shape[1]), order.shape), 1
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # ONE Arrow kernel does cell assignment (the shared cell
        # rule) AND the |batch| x |Q| GEMM — the JVM fold expression
        # this replaces interpreted ~dim ops per (query, candidate)
        # pair and went super-linear at 10x scale (173 s at sf1); the
        # GEMM is the same float64 math the exact-knn kernels use.
        nq = len(qids)
        for pdf in batches:
            if not len(pdf):
                continue
            mat = unit_rows(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
            cells = nearest_cells(mat, cnorm)[:, 0]
            sims = mat @ qnorm.T  # (batch, Q)
            n = len(pdf)
            ids = np.repeat(pdf[id_col].to_numpy(), nq)
            qcol = np.tile(qids, n)
            pr = rank_of_cell[:, cells].T.reshape(-1)  # (batch*Q,) probe rank
            keep = ids != qcol  # exclude self-matches
            yield pd.DataFrame(
                {
                    query_id_col: qcol[keep],
                    id_col: ids[keep],
                    "probe_rank": pr[keep].astype("int32"),
                    "cos_sim": sims.reshape(-1)[keep],
                }
            )

    from pyspark import StorageLevel

    scored = corpus.select(id_col, vec_col).mapInPandas(
        score,
        schema=f"{query_id_col} long, {id_col} long, probe_rank int, cos_sim double",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        exact = (
            topk(scored, k, by=query_id_col, id_col=id_col)
            .select(
                query_id_col,
                id_col,
                F.when(F.col("rank") == 1, F.col(id_col)).alias("__top1"),
            )
        )
        per_budget = []
        for b in budgets:
            approx = topk(
                scored.filter(F.col("probe_rank") < b), k, by=query_id_col, id_col=id_col
            ).select(query_id_col, id_col)
            hits = (
                approx.join(
                    exact.select(query_id_col, id_col), [query_id_col, id_col]
                )
                .groupBy(query_id_col)
                .agg(F.count(F.lit(1)).alias(f"__hits_{b}"))
            )
            per_budget.append(hits)
        base = exact.groupBy(query_id_col).agg(
            F.count(F.lit(1)).alias("exact_k"), F.max("__top1").alias("top1_id")
        )
        out = base
        for b, hits in zip(budgets, per_budget):
            out = out.join(hits, query_id_col, "left").withColumn(
                f"recall_at_{b}",
                F.coalesce(F.col(f"__hits_{b}"), F.lit(0)) / F.col("exact_k"),
            )
        mono = F.lit(True)
        for lo, hi in zip(budgets, budgets[1:]):
            mono = mono & (F.col(f"recall_at_{lo}") <= F.col(f"recall_at_{hi}"))
        rows = out.select(
            query_id_col, "exact_k", "top1_id", *rec_cols, mono.alias("monotone_ok")
        ).collect()
    finally:
        scored.unpersist()
    return spark.createDataFrame(rows, schema)
