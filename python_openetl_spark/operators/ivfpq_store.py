"""Persisted, incrementally-maintained IVFPQ index — the compressed
streaming-ingest counterpart of :mod:`operators.ivf_store`.

The raw-vector IVF store (ivf_store.py) scans full ``array<float>``
vectors inside the probed cells; at 100 TB what must be scanned per
probe is the product's real cost. This store persists the FAISS IVFPQ
layout instead: coarse cells prune WHICH rows are read (partition
directories), PQ codes shrink WHAT each row is (m one-byte codes + a
norm ≈ 16 bytes vs kilobyte vectors), ADC scores candidates with table
lookups, and an exact re-rank against the raw corpus fixes the
shortlist. It shares the IVF store's cell layout (operators/
ivf_store.py: sealed cells, the ``cell=-1`` delta, the cell-pruned
reader) and the generational-store protocol of operators/store.py
(versions behind one atomic pointer, write lock and generations,
pins, tombstones, rebuild, vacuum):

    v0000000N/centroids.parquet        cell -> coarse centroid
    v0000000N/codebooks.parquet        (sub, cell) -> PQ sub-centroid
    v0000000N/assigned/cell=<c>/...    vec_id, codes, vnorm (sealed)
    v0000000N/assigned/cell=-1/...     appended rows, real cell in __cell

Lifecycle mirrors ivf_store: :func:`build_ivfpq_store` trains coarse +
PQ quantizers and writes version 1; :func:`append_to_ivfpq_store`
encodes new vectors against the EXISTING quantizers (no retrain — the
FAISS add-after-train contract) and writes them into the shared delta
partition;
:func:`ivfpq_store_topk` probes ``nprobe`` sealed cell directories
(PartitionFilters) plus the unpruned delta, which every probe reads
and a rebuild folds away, ADC-scores their codes, and exact-re-ranks the
``rerank_factor·k`` shortlist against the caller's raw corpus.
:func:`rebuild_ivfpq_store` re-trains both quantizers from the RAW
corpus rows whose ids the store holds (codes alone cannot re-train
codebooks — quantization is lossy — which is why rebuild takes the
corpus as an argument instead of reading only the store) into a new
version; deletes and vacuum are the IVF store's
(:func:`operators.ivf_store.delete_from_ivf_store`,
:func:`operators.ivf_store.vacuum_ivf_store`).

Reference parity: the reference has no vector surface; this extends
its incremental-sync architecture (operations.py:515-609 delta
pattern) with the Jégou et al. (TPAMI 2011) product-quantization
index the training-data pipeline needs at 100 TB.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from python_openetl_spark.functions.vectors import empty_topk
from python_openetl_spark.operators.ivf_store import (
    _append_delta,
    _load_assigned,
    _read_centroids,
    _write_sealed,
)
from python_openetl_spark.operators.kmeans import train_coarse_centroids
from python_openetl_spark.operators.pq import _encode_assign_fn, _ivfpq_probe, pq_fit
from python_openetl_spark.operators.store import (
    _commit_version,
    _rebuild,
    _version_dir,
    current_index_dir,
)

_CODEBOOKS = "codebooks.parquet"


def _write_codebooks(spark: SparkSession, idx_dir: str, books: np.ndarray) -> None:
    m, ksub, dsub = books.shape
    spark.createDataFrame(
        [
            (s, c, [float(x) for x in books[s, c]])
            for s in range(m)
            for c in range(ksub)
        ],
        "sub int, cell int, centroid array<double>",
    ).coalesce(1).write.parquet(os.path.join(idx_dir, _CODEBOOKS))


def _read_codebooks(spark: SparkSession, idx_dir: str) -> np.ndarray:
    # m*ksub rows on the driver: pyarrow instead of a Spark
    # read+collect job per probe (tiny fixed-size metadata)
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(idx_dir, _CODEBOOKS)).to_pylist()
    m = max(r["sub"] for r in tbl) + 1
    ksub = max(r["cell"] for r in tbl) + 1
    dsub = len(tbl[0]["centroid"])
    books = np.zeros((m, ksub, dsub))
    for r in tbl:
        books[r["sub"], r["cell"]] = r["centroid"]
    return books


def build_ivfpq_store(
    corpus: DataFrame,
    root: str,
    *,
    nlist: int = 16,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> None:
    """Train coarse + PQ quantizers, encode, write version 1, commit.

    The coarse quantizer is k-means-trained (operators/kmeans.py) with
    the same ``iters`` as the PQ codebooks — sampled
    coarse centroids give uneven cells, which at 100 TB means hot probe
    tasks and weaker recall per nprobe."""
    _build_pq_into(
        corpus, _version_dir(root, 1), nlist, m, ksub, iters, id_col, vec_col, seed
    )
    _commit_version(root, 1)


def _build_pq_into(
    corpus: DataFrame,
    idx_dir: str,
    nlist: int,
    m: int,
    ksub: int,
    iters: int,
    id_col: str,
    vec_col: str,
    seed: int,
) -> None:
    spark = corpus.sparkSession
    books = pq_fit(
        corpus, m=m, ksub=ksub, iters=iters, id_col=id_col, vec_col=vec_col, seed=seed
    )
    cents = train_coarse_centroids(
        corpus,
        nlist=nlist,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed + 1,
        iters=iters,
    )
    if cents.shape[0] == 0:
        raise ValueError("build_ivfpq_store: empty corpus — nothing to train on")
    _write_codebooks(spark, idx_dir, books)
    _write_sealed(
        spark, idx_dir, cents, id_col,
        lambda cnorm: corpus.select(id_col, vec_col).mapInPandas(
            _encode_assign_fn(cnorm, books, id_col, vec_col),
            schema=f"{id_col} long, codes array<tinyint>, vnorm double, cell int",
        ),
    )


def rebuild_ivfpq_store(
    spark: SparkSession,
    root: str,
    corpus: DataFrame,
    *,
    nlist: int | None = None,
    m: int | None = None,
    ksub: int | None = None,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 43,
) -> None:
    """Drift repair for the compressed store: PQ CODES cannot re-train
    codebooks (quantization is lossy), so a rebuild re-trains from the
    RAW ``corpus`` rows whose ids the store currently holds — the
    caller supplies the same raw table the probe path re-ranks against.
    The rows whose ids are tombstoned do not survive. Writes a new
    version and commits it (the store.py rebuild, under the write
    lock). ``nlist``/``m``/``ksub`` default to the live store's
    geometry."""

    def build(cur_dir: str, new_dir: str) -> None:
        books = _read_codebooks(spark, cur_dir)
        held_ids = _load_assigned(spark, cur_dir, id_col).select(id_col)
        _build_pq_into(
            corpus.select(id_col, vec_col).join(held_ids, id_col, "left_semi"),
            new_dir, nlist or len(_read_centroids(spark, cur_dir)[0]),
            m or books.shape[0], ksub or books.shape[1], iters, id_col, vec_col,
            seed,
        )

    _rebuild(root, build)


def append_to_ivfpq_store(
    batch: DataFrame,
    root: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Encode new vectors against the EXISTING quantizers and write them
    into the IVF delta partition (one Spark job, one file per input
    task) — batch-sized cost, corpus never
    re-read; :func:`rebuild_ivfpq_store` folds the delta into cells."""
    spark = batch.sparkSession

    def encoded(idx_dir: str) -> DataFrame:
        _, cnorm = _read_centroids(spark, idx_dir)
        books = _read_codebooks(spark, idx_dir)
        return batch.select(id_col, vec_col).mapInPandas(
            _encode_assign_fn(cnorm, books, id_col, vec_col),
            schema=f"{id_col} long, codes array<tinyint>, vnorm double, cell int",
        )

    _append_delta(root, encoded)


def ivfpq_store_topk(
    spark: SparkSession,
    root: str,
    queries_pdf: pd.DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    nprobe: int = 4,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Probe ``nprobe`` sealed cell directories (partition-pruned) plus
    the delta (read whole, its rows of unprobed cells dropped), ADC-score
    their one-byte codes, exact-re-rank the shortlist against ``corpus``
    raw vectors (bit-identical JVM cosine — the same re-rank contract as
    operators/pq.py, so a full-recall configuration hash-matches exact
    top-k). The version pointer is resolved once up front."""
    idx_dir = current_index_dir(root)
    if queries_pdf.empty:
        return empty_topk(spark, query_id_col, id_col)
    cells, cnorm = _read_centroids(spark, idx_dir)
    return _ivfpq_probe(
        lambda probed: _load_assigned(spark, idx_dir, id_col, probed),
        corpus, cells, cnorm,
        _read_codebooks(spark, idx_dir), queries_pdf, k=k, nprobe=nprobe,
        rerank_factor=rerank_factor, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    )
