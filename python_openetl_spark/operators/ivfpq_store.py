"""Persisted, incrementally-maintained IVFPQ index — the compressed
streaming-ingest counterpart of :mod:`operators.ivf_store`.

The raw-vector IVF store (ivf_store.py) scans full ``array<float>``
vectors inside the probed cells; at 100 TB what must be scanned per
probe is the product's real cost. This store persists the FAISS IVFPQ
layout instead: coarse cells prune WHICH rows are read (partition
directories), PQ codes shrink WHAT each row is (m one-byte codes + a
norm ≈ 16 bytes vs kilobyte vectors), ADC scores candidates with table
lookups, and an exact re-rank against the raw corpus fixes the
shortlist. Same immutable-versioned-directory + atomic-pointer commit
protocol as ivf_store (shared helpers imported from it):

    root/_current.json                      {"version": N}
    root/v0000000N/centroids.parquet        cell -> coarse centroid
    root/v0000000N/codebooks.parquet        (sub, cell) -> PQ sub-centroid
    root/v0000000N/assigned/cell=<c>/...    vec_id, codes, vnorm

Lifecycle mirrors ivf_store: :func:`build_ivfpq_store` trains coarse +
PQ quantizers and writes version 1; :func:`append_to_ivfpq_store`
encodes new vectors against the EXISTING quantizers (no retrain — the
FAISS add-after-train contract) and appends cell partitions;
:func:`ivfpq_store_topk` probes ``nprobe`` cell directories
(PartitionFilters), ADC-scores their codes, and exact-re-ranks the
``rerank_factor·k`` shortlist against the caller's raw corpus.
:func:`rebuild_ivfpq_store` re-trains both quantizers from the RAW
corpus rows whose ids the store holds (codes alone cannot re-train
codebooks — quantization is lossy — which is why rebuild takes the
corpus as an argument instead of reading only the store) into a new
version behind the same atomic pointer; vacuum is shared with
ivf_store (identical layout).

Reference parity: the reference has no vector surface; this extends
its incremental-sync architecture (operations.py:515-609 delta
pattern) with the Jégou et al. (TPAMI 2011) product-quantization
index the training-data pipeline needs at 100 TB.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_openetl_spark.functions.vectors import cosine  # noqa: F401 (re-export parity)
from python_openetl_spark.operators.ivf_store import _cosine_clamped
from python_openetl_spark.operators.ivf_store import (
    _arrow_relation,
    _probe_cells,
    _ASSIGNED,
    _SEQ,
    _bump_seq,
    _write_lock,
    _load_assigned,
    _CENTROIDS,
    _commit_version,
    _current_version,
    _pin_from_written,
    _read_centroids,
    _read_store_schemas,
    _version_dir,
    _write_store_schemas,
    current_index_dir,
)
from python_openetl_spark.operators.pq import pq_fit

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
    # read+collect job per probe (same rationale as
    # ivf_store._read_centroids — guide §5, tiny fixed-size metadata).
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(idx_dir, _CODEBOOKS)).to_pylist()
    m = max(r["sub"] for r in tbl) + 1
    ksub = max(r["cell"] for r in tbl) + 1
    dsub = len(tbl[0]["centroid"])
    books = np.zeros((m, ksub, dsub))
    for r in tbl:
        books[r["sub"], r["cell"]] = r["centroid"]
    return books


def _encode_assign_fn(cnorm: np.ndarray, books: np.ndarray, id_col: str, vec_col: str):
    """One scan: coarse-cell assignment AND PQ encoding per batch (the
    ivf_pq_topk kernel, persisted form)."""
    m, _, dsub = books.shape

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(mat, axis=1)
            mn = mat / np.maximum(norms[:, None], 1e-300)
            cell = (mn @ cnorm.T).argmax(axis=1).astype(np.int32)
            codes = np.empty((len(pdf), m), dtype=np.int64)
            for s in range(m):
                x = mat[:, s * dsub : (s + 1) * dsub]
                c = books[s]
                codes[:, s] = (2.0 * x @ c.T - (c * c).sum(axis=1)).argmax(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "codes": list((codes & 0xFF).astype(np.int8)),
                    "vnorm": norms,
                    "cell": cell,
                }
            )

    return kernel


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

    The coarse quantizer is k-means-trained (operators/kmeans.py, r7
    verdict #2) with the same ``iters`` as the PQ codebooks — sampled
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
    from python_openetl_spark.operators.kmeans import train_coarse_centroids

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
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.parquet(os.path.join(idx_dir, _CENTROIDS))
    _write_codebooks(spark, idx_dir, books)
    _, cnorm = _read_centroids(spark, idx_dir)
    encoded = corpus.select(id_col, vec_col).mapInPandas(
        _encode_assign_fn(cnorm, books, id_col, vec_col),
        schema=f"{id_col} long, codes array<tinyint>, vnorm double, cell int",
    ).withColumn(_SEQ, F.lit(0).cast("long"))  # build rows are generation 0
    # repartition by cell before the partitioned write (ivf_store rule:
    # otherwise tasks x nlist sliver files drown later probe scans)
    encoded.repartition("cell").write.partitionBy("cell").parquet(
        os.path.join(idx_dir, _ASSIGNED)
    )
    # pin the read schemas so probes never pay footer inference (r12,
    # shared _load_assigned contract with the uncompressed store)
    a_pin, d_pin = _pin_from_written(encoded.schema, id_col)
    _write_store_schemas(idx_dir, assigned=a_pin, deleted=d_pin)


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
    Writes a NEW version directory and commits it with one atomic
    pointer replace; in-flight probes keep the version they resolved.
    ``nlist``/``m``/``ksub`` default to the live store's geometry.
    Superseded versions are pruned only by the explicit
    :func:`operators.ivf_store.vacuum_ivf_store` (the layout is
    shared). Holds the current version's store write lock for the
    whole rebuild (the r14 rebuild-vs-append rule, see
    ivf_store.rebuild_ivf_store) — a waiting appender re-resolves the
    pointer after acquiring and retries on the new version."""
    version = _current_version(root)
    cur_dir = _version_dir(root, version)
    with _write_lock(cur_dir):
        if nlist is None:
            nlist = spark.read.parquet(
                os.path.join(cur_dir, _CENTROIDS)
            ).count()
        if m is None or ksub is None:
            books = _read_codebooks(spark, cur_dir)
            m = m if m is not None else books.shape[0]
            ksub = ksub if ksub is not None else books.shape[1]
        # _load_assigned: tombstoned ids (delete_from_ivf_store — the
        # layout is shared) must not survive a PQ rebuild either
        held_ids = _load_assigned(spark, cur_dir, id_col).select(id_col)
        current = corpus.select(id_col, vec_col).join(
            held_ids, id_col, "left_semi"
        )
        _build_pq_into(
            current, _version_dir(root, version + 1), nlist, m, ksub, iters,
            id_col, vec_col, seed,
        )
        _commit_version(root, version + 1)


def append_to_ivfpq_store(
    batch: DataFrame,
    root: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Encode new vectors against the EXISTING quantizers and append
    their cell partitions — batch-sized cost, corpus never re-read."""
    spark = batch.sparkSession
    idx_dir = current_index_dir(root)
    _, cnorm = _read_centroids(spark, idx_dir)
    books = _read_codebooks(spark, idx_dir)
    # whole write under the store lock (ivf_store rule: distinct
    # generations don't protect concurrent appends from sharing the
    # committer's _temporary staging dir)
    stale = False
    with _write_lock(idx_dir):
        if current_index_dir(root) != idx_dir:
            # a rebuild committed while this writer waited: retry on
            # the new current version, re-reading ITS quantizers (the
            # r14 rebuild-vs-append rule, see ivf_store)
            stale = True
        else:
            encoded = batch.select(id_col, vec_col).mapInPandas(
                _encode_assign_fn(cnorm, books, id_col, vec_col),
                schema=f"{id_col} long, codes array<tinyint>, vnorm double, cell int",
            ).withColumn(
                _SEQ, F.lit(_bump_seq(idx_dir)).cast("long")
            )  # new write generation; long to match the pinned read schema
            encoded.repartition("cell").write.mode("append").partitionBy(
                "cell"
            ).parquet(os.path.join(idx_dir, _ASSIGNED))
            if "assigned" not in _read_store_schemas(idx_dir):
                # one-time legacy migration (ivf_store append rule): pin the
                # union schema mergeSchema would infer, once, post-append
                merged = spark.read.option("mergeSchema", "true").parquet(
                    os.path.join(idx_dir, _ASSIGNED)
                ).schema
                a_pin, d_pin = _pin_from_written(merged, id_col)
                _write_store_schemas(idx_dir, assigned=a_pin, deleted=d_pin)
    if stale:
        append_to_ivfpq_store(batch, root, id_col=id_col, vec_col=vec_col)


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
    """Probe ``nprobe`` cell directories (partition-pruned), ADC-score
    their one-byte codes, exact-re-rank the shortlist against ``corpus``
    raw vectors (bit-identical JVM cosine — the same re-rank contract as
    operators/pq.py, so a full-recall configuration hash-matches exact
    top-k). The version pointer is resolved once up front."""
    idx_dir = current_index_dir(root)
    if queries_pdf.empty:
        return spark.createDataFrame(
            [], f"{query_id_col} long, {id_col} long, cos_sim double, rank int"
        )
    cells, cnorm = _read_centroids(spark, idx_dir)
    books = _read_codebooks(spark, idx_dir)
    m, _, dsub = books.shape

    qids = np.asarray(queries_pdf[query_id_col], dtype=np.int64)
    qvecs = np.stack(queries_pdf[vec_col].to_numpy())
    qmat = qvecs.astype(np.float64)
    qnorms = np.linalg.norm(qmat, axis=1)
    probe = _probe_cells(qmat, cnorm, cells, nprobe)
    probe_df = _arrow_relation(
        spark,
        **{
            query_id_col: np.repeat(qids, probe.shape[1]),
            "cell": probe.reshape(-1),
        },
    )
    lut = np.einsum("qsd,scd->qsc", qmat.reshape(len(qids), m, dsub), books)
    qpos = {int(q): i for i, q in enumerate(qids)}
    shortlist = max(k * rerank_factor, k)

    # tombstone-aware (the shared _load_assigned loader): deleted ids
    # are invisible to PQ probes exactly as to the raw-vector store
    assigned = _load_assigned(spark, idx_dir, id_col).filter(
        F.col("cell").isin(np.unique(probe).tolist())  # partition-pruned scan
    )

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sub_idx = np.arange(m)
        for pdf in batches:
            if pdf.empty:
                continue
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64) & 0xFF
            qidx = pdf[query_id_col].map(qpos).to_numpy()
            dots = lut[qidx[:, None], sub_idx[None, :], codes].sum(axis=1)
            vn = pdf["vnorm"].to_numpy()
            # zero-norm guard: vnorm 0 would divide by the 1e-300 clamp
            # and inflate the ADC score to ~1e300, hijacking the
            # shortlist; a zero vector scores 0 everywhere instead
            score = np.where(
                vn * qnorms[qidx] == 0.0,
                0.0,
                dots / np.maximum(vn * qnorms[qidx], 1e-300),
            )
            yield pd.DataFrame(
                {
                    query_id_col: pdf[query_id_col],
                    id_col: pdf[id_col],
                    "adc_score": score,
                }
            )

    cand_rows = (
        assigned.join(F.broadcast(probe_df), "cell")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, "codes", "vnorm")
        .mapInPandas(adc, schema=f"{query_id_col} long, {id_col} long, adc_score double")
    )
    w_short = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_score").desc(), F.col(id_col)
    )
    cand = (
        cand_rows.withColumn("__r", F.row_number().over(w_short))
        .filter(F.col("__r") <= shortlist)
        .select(query_id_col, id_col)
    )
    qdf = _arrow_relation(
        spark, **{query_id_col: qids, "__qv": qvecs.astype(np.float32)}
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        corpus.select(id_col, vec_col)
        .join(F.broadcast(cand), id_col)
        .join(F.broadcast(qdf), query_id_col)
        .select(
            query_id_col,
            id_col,
            # clamped: a zero-norm shortlist row must score 0.0, not a
            # NaN that Spark ranks FIRST (identical to cosine() for any
            # nonzero pair, so full-recall oracle configs are unaffected)
            _cosine_clamped(F.col(vec_col), F.col("__qv")).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
