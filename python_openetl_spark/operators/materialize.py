"""Size-adaptive materialization of multiply-referenced intermediates.

Several operators build a frame that is consumed by more than one
downstream branch (a self-join, a size count + join, a decision pass +
payload pass). Spark recomputes the whole subtree per reference —
broadcast planning defeats exchange reuse, so the r14 plan audit found
composites re-running their upstream 3-6x (d61: 272 parquet scans in
one plan).

The fix is to materialize the frame once (``localCheckpoint``), but an
eager checkpoint is a synchronous job: ~0.2-0.4 s of scheduling plus a
storage write. Measured at bench scale (sf0.1, ~17 MB inputs) that
barrier LOSES against simply recomputing a cheap scan-bound subtree
(d48 0.29 s -> 0.63 s with an unconditional checkpoint), while at
production scale recomputing a multi-terabyte scan per reference is
catastrophically worse than one ids-only materialization.

:func:`materialize` therefore decides from the optimizer's own size
estimate: above the threshold the frame is checkpointed, below it the
lazy plan is returned unchanged and the (bounded, scan-sized) recompute
is accepted. The estimate scales with the input data — the same code
path picks "recompute" on a fixture and "materialize" on a 100 TB
corpus, with no local-mode constant baked in. Operators whose
multi-referenced frame is expensive to recompute but structurally
SMALL-looking to the estimator (e.g. the output of an iterative join
pipeline over a tiny scan) pin unconditionally via :func:`pin`
instead of calling this helper.

Scale-safety policy (when localCheckpoint is NOT enough)
--------------------------------------------------------

``localCheckpoint`` stores the materialized partitions on the
EXECUTORS and truncates lineage — losing an executor therefore loses
blocks that can no longer be recomputed, and the job fails. That
trade is acceptable exactly when the pinned frame is
**delta-sized / driver-bounded** (CDC deltas, iterative frontiers,
banded-rank offsets, id tombstones — every current site), because the
frame is small enough that a retry of the whole query is cheap and
the pin exists to avoid *recomputation*, not to provide
*durability*. It is NOT acceptable for a pin that a long multi-hour
cluster job depends on (a 100 TB shuffle output): there, executor
churn is expected, and the site must use **reliable**
``Dataset.checkpoint()`` (HDFS/object-store backed, survives executor
loss) and pay the write.

Both :func:`materialize` and :func:`pin` therefore route through one
switch: set ``SPARK_GRAFT_RELIABLE_CHECKPOINT=1`` (and
``SPARK_GRAFT_CHECKPOINT_DIR`` if the session has no checkpoint dir)
to flip every pin in the engine to the reliable path for cluster
deployments; the local default stays ``localCheckpoint`` (same
semantics, no extra I/O — right for fixtures and for any
fail-fast-and-retry batch job).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

#: Below this estimated plan size, recomputing the subtree per
#: reference is cheaper than a checkpoint barrier. Overridable per
#: deployment; the default (256 MB — one comfortable executor-local
#: write) is orders of magnitude above any fixture and orders of
#: magnitude below any production corpus, so the decision is driven by
#: the data, not the environment.
_DEFAULT_THRESHOLD = 256 * 1024 * 1024


def _threshold_bytes() -> int:
    env = os.environ.get("SPARK_GRAFT_MATERIALIZE_MIN_BYTES")
    if env:
        return int(env)
    return _DEFAULT_THRESHOLD


def plan_size_estimate(df: DataFrame) -> int:
    """Total estimated bytes of the LEAF relations feeding ``df``.

    The callers' multi-referenced frames are scan-bound (tokenize /
    shingle / hash projections of a source scan), so re-computation
    cost is proportional to the bytes the leaves re-read — which is
    exactly what this sums. Leaves are taken from the ANALYZED plan:
    leaf statistics (file-index sizes) need no optimizer run, whereas
    ``optimizedPlan().stats()`` re-optimizes the whole subtree per call
    (measured +0.3 s on expression-heavy plans like the MinHash
    signature agg — more than the materialization decision is worth).
    An upstream already-materialized frame surfaces as a LogicalRDD
    leaf, whose unknown size defaults to "large"; the failure mode is
    an extra checkpoint, never an unbounded recompute.
    """
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            total += int(leaves.apply(i).stats().sizeInBytes())
        return min(total, 1 << 62)
    except Exception:
        return 1 << 62


def _reliable() -> bool:
    return os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT", "") not in ("", "0")


def pin(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Materialize ``df`` unconditionally, policy-aware (see module
    docstring): ``localCheckpoint`` by default; reliable
    ``Dataset.checkpoint`` when ``SPARK_GRAFT_RELIABLE_CHECKPOINT=1``.
    Sites call this for frames that are delta-sized / driver-bounded
    but look small to the size estimator (iterative frontiers, CDC
    deltas, tombstone id sets) — :func:`materialize` remains the entry
    point when the recompute-vs-barrier decision should follow the
    data size."""
    if not _reliable():
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
        if not ckpt_dir:
            raise ValueError(
                "SPARK_GRAFT_RELIABLE_CHECKPOINT=1 needs a checkpoint dir: "
                "call sparkContext.setCheckpointDir() or set "
                "SPARK_GRAFT_CHECKPOINT_DIR"
            )
        sc.setCheckpointDir(ckpt_dir)
    return df.checkpoint(eager=eager)


def materialize(df: DataFrame, *, threshold_bytes: int | None = None) -> DataFrame:
    """Checkpoint ``df`` iff its estimated size clears the threshold."""
    limit = _threshold_bytes() if threshold_bytes is None else threshold_bytes
    if plan_size_estimate(df) <= limit:
        return df
    return pin(df)


def _arrow_relation(spark, **cols) -> DataFrame:
    """A small driver-built relation from numpy columns, shipped as one
    ``pyarrow.Table``: a sized ``LocalTableScan``, so joins against it
    are auto-broadcast. A ``createDataFrame(list)`` frame is a pickled
    RDD that Spark cannot size (its joins plan as shuffles) and whose
    rows a Python worker unpickles. A broadcast costs one Spark job
    either way. Column types follow the arrays: int64 -> long, int32 ->
    int, a 2-D float32 array -> array<float> with the exact values."""
    import pyarrow as pa

    arrays = {}
    for name, a in cols.items():
        if a.ndim == 2:
            flat = pa.array(a.reshape(-1), type=pa.float32())
            arrays[name] = pa.FixedSizeListArray.from_arrays(
                flat, a.shape[1]
            ).cast(pa.list_(pa.float32()))
        else:
            arrays[name] = pa.array(a)
    return spark.createDataFrame(pa.table(arrays))
