"""Product quantization (PQ) for embedding columns: Jégou et al.,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011.

The 100 TB ANN compression path: split each dim-d vector into ``m``
subvectors, learn a ``ksub``-centroid L2 codebook per subspace, store
each vector as ``m`` one-byte codes plus its norm — 256-byte float32
embeddings become ~16 bytes, so a 100 TB corpus's index fits in ~6 TB
and scans stay memory-bandwidth-bound. Queries score candidates with
ADC (asymmetric distance computation): one ``m x ksub`` lookup table
of query-subvector dots per query, then each candidate's approximate
dot is ``m`` table lookups — no float math per dimension — followed by
an exact re-rank of the shortlist.

Scale shape (mirrors operators/kmeans.py):

- codebooks are ``m x ksub x (d/m)`` doubles — broadcast, never
  shuffled; one Arrow-batched corpus scan per Lloyd iteration emits
  per-batch partial sums for ALL subspaces at once (<= m x ksub rows
  per batch), reduced distributedly via posexplode + groupBy;
- encoding is one scan emitting (id, codes, norm) — the only thing a
  query-time scan ever reads;
- ADC candidate generation is per-batch local top-C
  (``functions.vectors.local_topk``): the shuffle carries
  O(batches x q x C) candidate rows, never full score matrices;
- the exact re-rank joins the tiny candidate set back to the corpus by
  broadcast and scores with the JVM cosine expression — bit-identical
  to the SQL oracle, which is what lets a full-recall configuration
  hash-match exact top-k.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_openetl_spark.functions.vectors import (
    cosine,
    empty_topk,
    local_topk,
    nearest_cells,
    topk,
    unit_rows,
)
from python_openetl_spark.operators.ivf_store import _probe_cells
from python_openetl_spark.operators.kmeans import init_centroids
from python_openetl_spark.operators.materialize import _arrow_relation


def _codes(mat: np.ndarray, books: np.ndarray) -> np.ndarray:
    """The PQ code rule: each subvector's nearest codebook centroid in
    L2, ``argmin ||x-c||^2 == argmax(2x.c - ||c||^2)``; ``(n, m)``
    int64."""
    m, _, dsub = books.shape
    return np.stack(
        [
            (
                2.0 * mat[:, s * dsub : (s + 1) * dsub] @ books[s].T
                - (books[s] * books[s]).sum(axis=1)
            ).argmax(axis=1)
            for s in range(m)
        ],
        axis=1,
    )


def pq_fit(
    df: DataFrame,
    *,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> np.ndarray:
    """Learn per-subspace L2 codebooks; returns ``(m, ksub, d/m)``.

    Seeds are the subvectors of a deterministic xxhash64-ordered sample
    (engine-reproducible); each Lloyd iteration is ONE corpus scan that
    updates every subspace's codebook simultaneously.
    """
    # codes are one byte (array<tinyint>); decoders mask with & 0xFF,
    # so 256 centroids are addressable but no more
    assert 0 < ksub <= 256, f"ksub={ksub} exceeds one-byte code range"
    src = df.select(id_col, vec_col)
    rows = (
        src.withColumn("__h", F.xxhash64(F.col(id_col), F.lit(seed)))
        .orderBy("__h")
        .limit(ksub)
        .collect()
    )
    if not rows:
        raise ValueError("pq_fit: empty corpus (no vectors to learn codebooks from)")
    sample = np.array([r[vec_col] for r in rows], dtype=np.float64)
    ksub = min(ksub, sample.shape[0])
    d = sample.shape[1]
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    dsub = d // m
    books = np.stack(
        [sample[:, s * dsub : (s + 1) * dsub].copy() for s in range(m)]
    )  # (m, ksub, dsub)

    for _ in range(iters):
        b_bc = books

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                codes = _codes(mat, b_bc)
                subs, cells, ns, sums = [], [], [], []
                for s in range(m):
                    x = mat[:, s * dsub : (s + 1) * dsub]
                    assign = codes[:, s]
                    acc = np.zeros((ksub, dsub))
                    np.add.at(acc, assign, x)
                    cnt = np.bincount(assign, minlength=ksub)
                    live = np.flatnonzero(cnt)
                    subs.append(np.full(live.size, s, dtype=np.int32))
                    cells.append(live.astype(np.int32))
                    ns.append(cnt[live].astype(np.int64))
                    sums.extend(list(acc[live]))
                yield pd.DataFrame(
                    {
                        "sub": np.concatenate(subs),
                        "cell": np.concatenate(cells),
                        "n": np.concatenate(ns),
                        "s": sums,
                    }
                )

        agg = (
            src.mapInPandas(partials, schema="sub int, cell int, n long, s array<double>")
            .select("sub", "cell", "n", F.posexplode("s").alias("pos", "val"))
            .groupBy("sub", "cell", "pos")
            .agg(
                F.sum("val").alias("val"),
                F.sum(F.when(F.col("pos") == 0, F.col("n")).otherwise(0)).alias("n0"),
            )
            .collect()
        )
        sums = np.zeros_like(books)
        counts = np.zeros((m, ksub), dtype=np.int64)
        for r in agg:
            sums[r["sub"], r["cell"], r["pos"]] = r["val"]
            if r["pos"] == 0:
                counts[r["sub"], r["cell"]] = r["n0"]
        new = books.copy()
        live = counts > 0
        new[live] = sums[live] / counts[live][:, None]  # empty cells keep centroid
        books = new
    return books


def pq_encode(
    df: DataFrame,
    books: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One scan -> ``(id, codes array<tinyint>, vnorm double)``.

    Codes for cells 128..255 wrap negative in int8 storage; decoders
    must mask with ``& 0xFF`` before using them as codebook indices.
    """
    assert books.shape[1] <= 256, f"ksub={books.shape[1]} exceeds one-byte code range"

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "codes": list(_codes(mat, books).astype(np.int8)),
                    "vnorm": np.linalg.norm(mat, axis=1),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        encode, schema=f"{id_col} long, codes array<tinyint>, vnorm double"
    )


def _encode_assign_fn(cnorm: np.ndarray, books: np.ndarray, id_col: str, vec_col: str):
    """One scan: coarse-cell assignment (the cell rule,
    ``functions.vectors.nearest_cells``) AND PQ encoding per batch,
    emitting ``(id, codes, vnorm, cell)``."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "codes": list(_codes(mat, books).astype(np.int8)),
                    "vnorm": np.linalg.norm(mat, axis=1),
                    "cell": nearest_cells(unit_rows(mat), cnorm)[:, 0].astype(np.int32),
                }
            )

    return kernel


def _adc_cosine(dots: np.ndarray, norms: np.ndarray) -> np.ndarray:
    """ADC dots over the product of both norms. A zero-norm vector or
    query scores 0.0: its codes still decode to nonzero centroids, so
    its approximate dot is not 0, and dividing it by the norm floor
    would inflate it to ~1e300 and hijack the shortlist."""
    return np.divide(dots, norms, out=np.zeros_like(dots), where=norms != 0.0)


def _adc_fn(lut: np.ndarray, qids: np.ndarray, qnorms: np.ndarray, query_id_col: str, id_col: str):
    """Arrow kernel ADC-scoring (query, coded row) pairs: ``m`` lookups
    in the query's ``lut[q, sub, code]`` table per row, no float math
    per dimension."""
    qpos = {int(q): i for i, q in enumerate(qids)}
    sub_idx = np.arange(lut.shape[1])

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            # & 0xFF: int8 storage wraps cells 128..255 negative; mask
            # back to unsigned before LUT indexing
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64) & 0xFF
            qidx = pdf[query_id_col].map(qpos).to_numpy()
            dots = lut[qidx[:, None], sub_idx[None, :], codes].sum(axis=1)
            yield pd.DataFrame(
                {
                    query_id_col: pdf[query_id_col],
                    id_col: pdf[id_col],
                    "adc_score": _adc_cosine(dots, pdf["vnorm"].to_numpy() * qnorms[qidx]),
                }
            )

    return adc


def _exact_rerank(
    cand: DataFrame,
    corpus: DataFrame,
    qids: np.ndarray,
    qvecs: np.ndarray,
    *,
    k: int,
    shortlist: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """The exact re-rank tail of every PQ probe: keep each query's
    ``shortlist`` best ``adc_score`` candidates, score them with the JVM
    ``cosine`` against the raw ``corpus`` vectors, rank the top ``k``.
    The scores are bit-identical to the exact path, so when the
    shortlist captures the true top-k the result hash-matches the
    brute-force oracle. Both broadcast sides are driver-local relations
    or shortlist-sized."""
    short = topk(
        cand, shortlist, by=query_id_col, score="adc_score", id_col=id_col
    ).select(query_id_col, id_col)
    qdf = _arrow_relation(
        corpus.sparkSession, **{query_id_col: qids, "__qv": qvecs.astype(np.float32)}
    )
    scored = (
        corpus.select(id_col, vec_col)
        .join(F.broadcast(short), id_col)
        .join(F.broadcast(qdf), query_id_col)
        .select(
            query_id_col,
            id_col,
            cosine(F.col(vec_col), F.col("__qv")).alias("cos_sim"),
        )
    )
    return topk(scored, k, by=query_id_col, id_col=id_col)


def pq_topk(
    corpus: DataFrame,
    queries_pdf: pd.DataFrame,
    *,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k: ADC shortlist over PQ codes, exact
    JVM-cosine re-rank of the top ``rerank_factor * k`` candidates.

    The re-ranked scores are bit-identical to the exact path, so when
    the shortlist captures the true top-k (fixture settings do — pinned
    in tests), the full result hash-matches the brute-force oracle.
    """
    if queries_pdf.empty:
        return empty_topk(corpus.sparkSession, query_id_col, id_col)
    books = pq_fit(
        corpus, m=m, ksub=ksub, iters=iters, id_col=id_col, vec_col=vec_col, seed=seed
    )
    enc = pq_encode(corpus, books, id_col=id_col, vec_col=vec_col)

    qids = np.asarray(queries_pdf[query_id_col], dtype=np.int64)
    qvecs = np.stack(queries_pdf[vec_col].to_numpy())
    qmat = qvecs.astype(np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)
    dsub = books.shape[2]
    # LUT[q, s, c] = dot(q_sub, book[s][c])
    lut = np.einsum("qsd,scd->qsc", qmat.reshape(len(qids), m, dsub), books)
    shortlist = max(k * rerank_factor, k)

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sub_idx = np.arange(m)
        for pdf in batches:
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64) & 0xFF  # (n, m)
            vnorm = pdf["vnorm"].to_numpy()
            # one (n, m) gather per query: memory stays flat in the
            # query count, apart from the (n, q) score matrix itself
            sims = np.empty((len(pdf), len(qids)))
            for qi in range(len(qids)):
                sims[:, qi] = _adc_cosine(
                    lut[qi][sub_idx, codes].sum(axis=1), vnorm * qnorm[qi]
                )
            yield local_topk(
                pdf[id_col].to_numpy(), qids, sims, shortlist,
                query_id_col=query_id_col, id_col=id_col, score="adc_score",
            )

    cand = enc.mapInPandas(
        adc, schema=f"{query_id_col} long, {id_col} long, adc_score double"
    )
    return _exact_rerank(
        cand, corpus, qids, qvecs, k=k, shortlist=shortlist, id_col=id_col,
        vec_col=vec_col, query_id_col=query_id_col,
    )


def _ivfpq_probe(
    coded_cells: Callable[[list], DataFrame],
    corpus: DataFrame,
    cells: np.ndarray,
    cnorm: np.ndarray,
    books: np.ndarray,
    queries_pdf: pd.DataFrame,
    *,
    k: int,
    nprobe: int,
    rerank_factor: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """The IVFPQ probe shared by :func:`ivf_pq_topk` and the persisted
    store (operators/ivfpq_store.py): each query's ``nprobe`` nearest
    cells (``ivf_store._probe_cells``) are passed to ``coded_cells``,
    which returns the coded rows ``(id, codes, vnorm, cell)`` of those
    cells — a partition-pruned scan when they come from a store — ADC
    scores them, and :func:`_exact_rerank` fixes the
    ``rerank_factor * k`` shortlist against ``corpus``."""
    m, _, dsub = books.shape
    qids = np.asarray(queries_pdf[query_id_col], dtype=np.int64)
    qvecs = np.stack(queries_pdf[vec_col].to_numpy())
    qmat = qvecs.astype(np.float64)
    probe = _probe_cells(qmat, cnorm, cells, nprobe)
    probe_df = _arrow_relation(
        corpus.sparkSession,
        **{query_id_col: np.repeat(qids, probe.shape[1]), "cell": probe.reshape(-1)},
    )
    lut = np.einsum("qsd,scd->qsc", qmat.reshape(len(qids), m, dsub), books)
    cand = (
        coded_cells(np.unique(probe).tolist())
        .join(F.broadcast(probe_df), "cell")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, "codes", "vnorm")
        .mapInPandas(
            _adc_fn(lut, qids, np.linalg.norm(qmat, axis=1), query_id_col, id_col),
            schema=f"{query_id_col} long, {id_col} long, adc_score double",
        )
    )
    return _exact_rerank(
        cand, corpus, qids, qvecs, k=k, shortlist=max(k * rerank_factor, k),
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries_pdf: pd.DataFrame,
    *,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """IVF + PQ composed (the FAISS ``IVFPQ`` architecture): a coarse
    inverted-file quantizer prunes WHICH vectors are scored, PQ codes
    shrink WHAT is read per scored vector, ADC scores them with table
    lookups, and an exact re-rank fixes the shortlist.

    At 100 TB this is the only shape that works: ``nprobe/nlist`` of
    the corpus is touched per query (cell = partition key, so probing
    is partition pruning), and what is touched is ~16-byte codes
    instead of kilobyte vectors — the two approximations multiply to
    a ~100-1000x scan reduction, then the exact re-rank touches only
    ``rerank_factor * k`` full vectors per query. Codebooks here are
    trained on raw vectors (FAISS-style residual encoding would reuse
    the same dataflow with ``x - centroid[cell]`` inside the kernels).

    One corpus scan assigns cells AND encodes codes; recall is
    tunable with (nlist, nprobe, m, ksub, rerank_factor) — pinned
    settings and bounds live in tests/test_pq.py.
    """
    # empty-query guard: np.stack on zero queries raises; pq_fit raises
    # by contract on an empty CORPUS, so centroids exist past it
    if queries_pdf.empty:
        return empty_topk(corpus.sparkSession, query_id_col, id_col)
    books = pq_fit(
        corpus, m=m, ksub=ksub, iters=iters, id_col=id_col, vec_col=vec_col, seed=seed
    )
    # coarse centroids: the sampled seeds (similarity.ivf_topk's), with
    # an offset seed so coarse != PQ seeds
    cnorm = init_centroids(corpus, id_col, vec_col, nlist, seed + 1)
    coded = corpus.select(id_col, vec_col).mapInPandas(
        _encode_assign_fn(cnorm, books, id_col, vec_col),
        schema=f"{id_col} long, codes array<tinyint>, vnorm double, cell int",
    )
    return _ivfpq_probe(
        lambda probed: coded.filter(F.col("cell").isin(probed)),
        corpus, np.arange(len(cnorm), dtype=np.int32), cnorm, books,
        queries_pdf, k=k, nprobe=nprobe, rerank_factor=rerank_factor,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    )
