"""Distributed spherical k-means over embedding columns.

The coarse-clustering backbone for semantic dedup (SemDeDup: Abbas et
al., arXiv:2303.09540 — cluster embeddings, then dedup only *within*
clusters) and for IVF-style index builds (the sampled IVF operators
stop at :func:`init_centroids`; the trainer refines those seeds with
Lloyd sweeps, same dataflow).

Scale shape (the part that must survive 100 TB):

- centroids are k x dim doubles — always broadcast, never shuffled;
- each Lloyd iteration is ONE corpus scan: an Arrow-batched kernel
  assigns every vector to its nearest centroid and emits *per-batch
  partial sums* (<= k rows per batch of (cell, count, sum-vector)), the
  map-side combine that keeps the shuffle at k x partitions rows
  instead of n;
- partials reduce to k x dim scalars via posexplode + groupBy(cell,
  pos) — fully distributed, no driver reduce over partition count —
  and only that k x dim result (a few KiB) is collected to update
  centroids;
- iteration count is fixed (deterministic plans, lineage does not grow:
  each sweep re-reads the source, nothing iteratively unioned).

The reference has no clustering surface (nearest analogue is its
client-side set difference, /root/reference/pyopenetl/operations.py:572);
this is part of the BASELINE.json LLM-data north star.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_openetl_spark.functions.vectors import nearest_cells, unit_rows


def init_centroids(
    df: DataFrame, id_col: str, vec_col: str, k: int, seed: int
) -> np.ndarray:
    """Deterministic seed centroids: the k corpus vectors that sort
    first by ``xxhash64(id, seed)`` — an engine-reproducible uniform
    sample (same device as operators/sampling.py), one tiny top-k job,
    unit-normalised. The one sampled-centroid function: the IVF
    operators seed from it too. Empty corpus: a ``(0, 0)`` array."""
    rows = (
        df.select(id_col, vec_col)
        .withColumn("__h", F.xxhash64(F.col(id_col), F.lit(seed)))
        .orderBy("__h")
        .limit(k)
        .collect()
    )
    if not rows:
        return np.zeros((0, 0))
    return unit_rows(np.array([r[vec_col] for r in rows], dtype=np.float64))


def spherical_kmeans(
    df: DataFrame,
    *,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    probe: int = 1,
    include_vec: bool = False,
) -> tuple[np.ndarray, DataFrame]:
    """Fit spherical k-means (cosine / unit-sphere Lloyd's) and return
    ``(centroids, assignments)``.

    ``assignments`` has one row per input row and probe slot:
    ``(id_col, cell, cell_rank)`` where ``cell_rank`` 0 is the nearest
    centroid and ranks ``1..probe-1`` are the runners-up — multi-probe
    assignment for candidate generation, so near-boundary points meet
    their neighbors across a cluster seam (same trick as IVF nprobe).
    With ``include_vec`` the vector rides along in the output — callers
    that need (cell, vector) avoid re-joining the corpus on id (one
    full-corpus shuffle saved; the explode happens in the same scan).
    """
    src = df.select(id_col, vec_col)
    schema = f"{id_col} long, cell int, cell_rank int"
    if include_vec:
        schema += f", {vec_col} array<float>"
    cents = init_centroids(src, id_col, vec_col, k, seed)
    k = cents.shape[0]  # fewer rows than k: every row seeds a centroid
    if k == 0:  # empty corpus: no centroids, no assignment rows
        return cents, df.sparkSession.createDataFrame([], schema)

    for _ in range(iters):
        c_bc = cents  # closed over; k x dim doubles, broadcast with the task

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                mat = unit_rows(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
                cells = nearest_cells(mat, c_bc)[:, 0]
                sums = np.zeros_like(c_bc)
                np.add.at(sums, cells, mat)
                counts = np.bincount(cells, minlength=c_bc.shape[0])
                live = np.flatnonzero(counts)
                yield pd.DataFrame(
                    {
                        "cell": live.astype(np.int32),
                        "n": counts[live].astype(np.int64),
                        "s": list(sums[live]),
                    }
                )

        agg = (
            src.mapInPandas(partials, schema="cell int, n long, s array<double>")
            .select("cell", "n", F.posexplode("s").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(
                F.sum("val").alias("val"),
                # n repeats across every pos of one partial row, so count
                # it exactly once per partial: in the pos-0 slice
                F.sum(F.when(F.col("pos") == 0, F.col("n")).otherwise(0)).alias("n0"),
            )
            .collect()
        )
        new = cents.copy()
        sums = np.zeros_like(cents)
        counts = np.zeros(k, dtype=np.int64)
        for r in agg:
            sums[r["cell"], r["pos"]] = r["val"]
            if r["pos"] == 0:
                counts[r["cell"]] = r["n0"]
        live = counts > 0
        new[live] = unit_rows(sums[live])  # empty cells keep their centroid
        cents = new

    c_bc = cents
    p = max(1, min(probe, k))

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = unit_rows(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
            order = nearest_cells(mat, c_bc, p)
            n = len(pdf)
            out = {
                id_col: np.repeat(pdf[id_col].to_numpy(), p),
                "cell": order.reshape(-1).astype(np.int32),
                "cell_rank": np.tile(np.arange(p, dtype=np.int32), n),
            }
            if include_vec:
                out[vec_col] = np.repeat(pdf[vec_col].to_numpy(), p)
            yield pd.DataFrame(out)

    return cents, src.mapInPandas(assign, schema=schema)


def train_coarse_centroids(
    df: DataFrame,
    *,
    nlist: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    iters: int = 2,
) -> np.ndarray:
    """Train an IVF coarse quantizer with Lloyd sweeps and return the
    ``(nlist, dim)`` unit-norm float64 centroid matrix.

    FAISS trains its coarse quantizer with k-means rather than sampling
    because sampled centroids track the corpus density unevenly: dense
    regions get many near-duplicate centroids (tiny cells) while sparse
    regions get none (one hot cell absorbs them), so probe tasks skew
    and recall-per-nprobe drops (r7 verdict #2). This is the
    :func:`spherical_kmeans` trainer — per-iteration cost is ONE corpus
    scan with a (nlist x partitions)-row shuffle, and only nlist x dim
    scalars ever reach the driver — with the assignment output unused
    (it is a lazy plan; skipping it costs nothing). Deterministic for a
    fixed (seed, iters) up to float-sum ordering, which store contracts
    absorb by stating recall floors, never centroid values.
    """
    cents, _ = spherical_kmeans(
        df, k=nlist, iters=iters, id_col=id_col, vec_col=vec_col, seed=seed
    )
    return cents


def semantic_dedup(
    df: DataFrame,
    *,
    threshold: float,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    probe: int = 2,
) -> DataFrame:
    """SemDeDup-style greedy semantic dedup: drop a vector iff some
    smaller-id vector is cosine-similar above ``threshold``; return the
    surviving rows of ``df``.

    The drop rule (min-id wins over every pair, non-transitive) is
    exactly SQL-expressible — the oracle is an O(n^2) pair join — while
    the Spark path never materializes pairs at all: after one shuffle
    on (cell), an Arrow-batched kernel runs a blocked matmul *inside*
    each cell and emits only the dropped ids (a vector is dropped iff
    some smaller-id vector in the cell clears the threshold). Pair
    candidates exist only as matmul lanes, so the cost is float ops,
    not join rows — the same kernel shape as
    similarity.lsh_cosine_pairs, which is what makes dense cells
    survivable. Multi-probe assignment keeps seam pairs (recall vs the
    exact pair set at fixture settings is pinned in
    tests/test_kmeans.py); survivors come from one left-anti join
    against the tiny dropped-id set, as in cluster.canonicalize_corpus.

    At 100 TB you raise ``k`` so cells stay small (SemDeDup uses ~1e5
    clusters) and accept sub-1 recall — the fixture settings pin k low
    and probe high because the driver oracle demands exactness.
    """
    _, tagged = spherical_kmeans(
        df,
        k=k,
        iters=iters,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        probe=probe,
        include_vec=True,
    )

    def cell_drops(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame({id_col: ids[:0]})
        mat = unit_rows(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
        dropped = np.zeros(n, dtype=bool)
        row_idx = np.arange(n)
        blk = 2048  # bounds the score slab at n x 2048 doubles
        for s in range(0, n, blk):
            e = min(s + blk, n)
            scores = mat @ mat[s:e].T
            earlier = row_idx[:, None] < np.arange(s, e)[None, :]
            dropped[s:e] |= ((scores >= threshold) & earlier).any(axis=0)
        return pd.DataFrame({id_col: ids[dropped]})

    dropped = (
        tagged.groupBy("cell")
        .applyInPandas(cell_drops, schema=f"{id_col} long")
        .distinct()
    )
    return df.join(dropped, id_col, "left_anti")
