"""Persisted, incrementally-maintained IVF index — streaming vector
ingest without retraining.

The in-memory IVF operator (operators/similarity.py ivf_topk) rebuilds
its coarse quantizer per call; production vector search cannot — the
corpus arrives continuously. This store keeps the index under the
generational-store protocol of operators/store.py (immutable versions
behind one atomic pointer, the write lock and write generations,
pinned read schemas, generation-scoped tombstones, rebuild and
vacuum), with this layout inside each version:

    v0000000N/centroids.parquet     cell -> centroid vector (nlist rows)
    v0000000N/assigned/cell=<c>/... sealed cells: build/rebuild rows
    v0000000N/assigned/cell=-1/...  the delta: appended rows, each
                                    one's real cell in ``__cell``

and splits the lifecycle the way the incremental-dedup family does
(operators/dedup.py incremental stores):

- :func:`build_ivf_store` — train a k-means coarse quantizer
  (operators/kmeans.py — FAISS trains rather than samples so cells
  stay even; ``train_iters`` corpus scans), then one assignment scan:
  Arrow-batched nearest-centroid assignment, partitioned write.
- :func:`append_to_ivf_store` — BATCH-sized cost: new vectors are
  assigned to the EXISTING centroids (no retrain, the FAISS
  ``add``-after-``train`` contract) and written, without a shuffle, into
  the delta partition ``cell=-1`` (cell ids are non-negative): one file
  per input task, in one Spark job. The index never re-reads the
  corpus, and a hive reader of ``assigned/`` still sees every row.
- :func:`ivf_store_topk` — probes ``nprobe`` cells; the cell predicate
  prunes to the matching sealed ``cell=`` partition DIRECTORIES plus
  the delta (PartitionFilters — the scan reads ~nprobe/nlist of the
  sealed data from disk, not just post-filter). The scan joins ONE broadcast probe
  relation (query, cell, query vector), built from Arrow so it plans
  as a driver-local table; vector norms are computed once per row on
  each side, not once per (row, query) pair. A probe is 3 Spark jobs:
  the broadcast, the scan, the top-k stage.
  :func:`ivf_store_range_search` shares the probe.
- :func:`rebuild_ivf_store` — re-trains the centroids into a new
  version: the compaction point, where the delta folds into sealed
  cells and tombstones go. A probe reads every delta row but only the
  sealed cells it probes, so a rebuild is due once the delta outgrows
  the probed cells (the store.py rule). Measured on 4 vCPUs, 32-dim
  vectors, nlist 256, nprobe 2, 16 queries (31 distinct cells): after
  50 appends of 400 rows (delta 44% of 45,600 rows) a probe read
  23,099 rows from 81 files in 0.70 s, against 5,403 rows in 0.59 s
  once rebuilt; the per-cell append layout this replaced read 5,472
  rows from 1,250 of its 10,407 files in 2.05 s.
- :func:`delete_from_ivf_store` — FAISS ``remove_ids`` parity as
  generation-scoped id tombstones: delete-sized cost, every read path
  subtracts them, the next rebuild compacts them.
- :func:`update_ivf_store` — re-embed/metadata UPDATE as
  tombstone-then-append (delete-sized + batch-sized cost, corpus
  never re-read); visible immediately, compacts at rebuild.
- :func:`vacuum_ivf_store` — the protocol's vacuum (operators/store.py),
  importable here.

The raw-vector and the compressed store (operators/ivfpq_store.py)
share this cell layout: its reader :func:`_load_assigned`, the sealed
write, the delta append and the centroid reader live here.

Drift note: appends shift the true cell distribution away from the
trained centroids; recall degrades gracefully (vectors are still in
their nearest EXISTING cell) until a rebuild. The build/append split
makes the rebuild an explicit, schedulable operation instead of a
per-query cost.

Reference parity: the reference has no vector surface; this extends
its incremental-sync architecture (operations.py:515-609 delta
pattern) to the ANN index the training-data pipeline needs.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from python_openetl_spark.functions.vectors import (
    cosine_of_norms,
    empty_topk,
    nearest_cells,
    norm,
    topk,
    unit_rows,
)
from python_openetl_spark.operators.kmeans import train_coarse_centroids
from python_openetl_spark.operators.materialize import _arrow_relation
from python_openetl_spark.operators.store import (
    _SEQ,
    _bump_seq,
    _commit_version,
    _delete,
    _live,
    _locked,
    _pin,
    _read_store_schemas,
    _rebuild,
    _scan,
    _tomb_pin,
    _tombstone,
    _version_dir,
    _write_store_schemas,
    current_index_dir,
)
from python_openetl_spark.operators.store import (  # noqa: F401 -- re-export
    vacuum_ivf_store,
)

_CENTROIDS = "centroids.parquet"
_ASSIGNED = "assigned"
#: the delta partition appends write into (``assigned/cell=-1``) and the
#: data column that carries each delta row's real cell; NULL on sealed
#: rows, whose cell is their directory
_DELTA_CELL = -1
_CELL = "__cell"


def _pin_from_written(written_schema: StructType) -> StructType:
    """The pinned read-back schema of an assigned dir written from a
    frame with the given schema: the delta's nullable ``__cell`` data
    column just before the ``cell`` partition column."""
    data = [f for f in written_schema.fields if f.name != _CELL]
    return _pin(StructType([*data, StructField(_CELL, IntegerType())]), "cell")


def _load_assigned(
    spark: SparkSession, idx_dir: str, id_col: str = "vec_id", cells=None
) -> DataFrame:
    """The ONE place store contents are read: the cell-partitioned
    ``assigned`` scan minus the version's tombstones. Every probe,
    rebuild and join path of both IVF stores goes through here, so
    delete semantics cannot drift between verbs.

    ``cell`` is every row's real cell: a delta row's ``__cell``, a
    sealed row's directory. Given ``cells``, only their rows are kept:
    the raw ``cell`` keeps those directories and the delta
    (PartitionFilters), and a pushed ``__cell`` predicate keeps the
    delta rows of those cells before any scoring. Every delta file is
    still read: its rows are in append order, not grouped by cell."""
    df = _scan(spark, idx_dir, _ASSIGNED)
    delta = _CELL in df.columns
    if cells is not None:
        df = df.filter(F.col("cell").isin([*cells, _DELTA_CELL]))
        if delta:
            df = df.filter(F.col(_CELL).isNull() | F.col(_CELL).isin(cells))
    if delta:
        df = df.withColumn("cell", F.coalesce(_CELL, "cell")).drop(_CELL)
    return _live(spark, idx_dir, df, id_col)


def _assign_fn(cnorm: np.ndarray, id_col: str, vec_col: str, attrs: tuple = ()):
    """Arrow kernel: each row gains its nearest ``cell`` under the cell
    rule (``functions.vectors.nearest_cells``; a zero-norm vector lands
    in cell 0). Shared by every IVF build, append and assignment scan."""

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = unit_rows(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
            out = {
                id_col: pdf[id_col],
                vec_col: pdf[vec_col],
            }
            for a in attrs:  # filterable metadata rides with the vector
                out[a] = pdf[a]
            out["cell"] = nearest_cells(mat, cnorm)[:, 0].astype(np.int32)
            yield pd.DataFrame(out)

    return assign


def _attr_schema(df, attrs: tuple) -> str:
    """DDL fragment for the attribute columns, from the input schema."""
    return "".join(
        f", {a} {df.schema[a].dataType.simpleString()}" for a in attrs
    )


def store_attr_cols(
    spark: SparkSession, root: str, *, id_col: str = "vec_id", vec_col: str = "embedding"
) -> tuple:
    """The attribute columns the live store carries (everything in the
    assigned schema besides id/vector/cell) — appends conform to this."""
    idx_dir = current_index_dir(root)
    pinned = _read_store_schemas(idx_dir).get("assigned")
    cols = (
        pinned.names
        if pinned is not None
        else spark.read.parquet(os.path.join(idx_dir, _ASSIGNED)).columns
    )
    return tuple(c for c in cols if c not in (id_col, vec_col, "cell", _SEQ, _CELL))


def _read_centroids(spark: SparkSession, root: str) -> tuple[np.ndarray, np.ndarray]:
    # nlist rows on the driver: a pyarrow read of the tiny centroids
    # file costs no Spark job/scan-planning round-trip, where the
    # previous spark.read...collect() scheduled one per probe call
    # (guide §5: the driver should do almost no data work — and this
    # IS almost no data). Same bytes, read fresh every call.
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(root, _CENTROIDS))
    cells = tbl.column("cell").to_numpy().astype(np.int32)
    cmat = np.array(tbl.column("centroid").to_pylist(), dtype=np.float64)
    order = np.argsort(cells)
    cmat = cmat[order]
    return cells[order], unit_rows(cmat)


def build_ivf_store(
    corpus: DataFrame,
    root: str,
    *,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_iters: int = 2,
    attr_cols: tuple = (),
) -> None:
    """Train (distributed spherical k-means) + assign + write version 1,
    then commit the pointer.

    ``attr_cols`` are filterable metadata columns persisted WITH each
    vector inside its cell partition (label, source, license, ...) —
    the pre-filter strategy for filtered ANN at the store level:
    probes apply the predicate inside the already-partition-pruned
    scan, so a filtered query reads nprobe/nlist of the data and
    discards non-matching rows before any distance math."""
    _build_into(
        corpus, _version_dir(root, 1), nlist, id_col, vec_col, seed, train_iters,
        attr_cols=tuple(attr_cols),
    )
    _commit_version(root, 1)


def _build_into(
    corpus: DataFrame,
    idx_dir: str,
    nlist: int,
    id_col: str,
    vec_col: str,
    seed: int,
    train_iters: int = 2,
    attr_cols: tuple = (),
) -> None:
    # k-means-trained coarse quantizer (FAISS trains for the same
    # reason: sampled centroids give uneven cells — hot probe tasks,
    # weaker recall per nprobe). Training is build-time-only cost:
    # train_iters corpus scans, nlist x dim scalars on the driver.
    spark = corpus.sparkSession
    cents = train_coarse_centroids(
        corpus,
        nlist=nlist,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        iters=train_iters,
    )
    if cents.shape[0] == 0:
        raise ValueError("build_ivf_store: empty corpus — nothing to train on")
    _write_sealed(
        spark, idx_dir, cents, id_col,
        lambda cnorm: corpus.select(id_col, vec_col, *attr_cols).mapInPandas(
            _assign_fn(cnorm, id_col, vec_col, attr_cols),
            schema=f"{id_col} long, {vec_col} array<float>"
            + _attr_schema(corpus, attr_cols)
            + ", cell int",
        ),
    )


def _write_sealed(spark, idx_dir: str, cents, id_col: str, rows_for) -> None:
    """The one build/rebuild write of both IVF stores: the centroids,
    then ``rows_for(cnorm)`` (id, payload, ``cell``) as generation 0
    into sealed cell directories, then the pinned read schemas."""
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.parquet(os.path.join(idx_dir, _CENTROIDS))
    rows = rows_for(_read_centroids(spark, idx_dir)[1])
    rows = rows.withColumn(_SEQ, F.lit(0).cast("long"))
    # repartition by cell BEFORE the partitioned write: otherwise every
    # task writes a sliver into every cell directory (tasks x nlist
    # small files — the small-files explosion that drowns later scans)
    rows.repartition("cell").write.partitionBy("cell").parquet(
        os.path.join(idx_dir, _ASSIGNED)
    )
    _write_store_schemas(
        idx_dir, assigned=_pin_from_written(rows.schema), deleted=_tomb_pin(id_col)
    )


def _append_delta(root: str, rows_for) -> None:
    """The one append path of both IVF stores: ``rows_for(idx_dir)``
    (id, payload, ``cell`` against that version's quantizers) is
    written as a new write generation, without a shuffle, into the
    delta partition: one file per input task, one Spark job, under the
    store write lock."""

    def write(idx_dir: str) -> None:
        rows = rows_for(idx_dir)
        assigned = os.path.join(idx_dir, _ASSIGNED)
        pinned = _read_store_schemas(idx_dir).get("assigned")
        if pinned is not None and _pin_from_written(pinned) != pinned:
            # an older pin widens before the write (an int ``__seq``
            # becomes long, ``__cell`` is added), so no reader meets a
            # file its pin cannot resolve
            _write_store_schemas(idx_dir, assigned=_pin_from_written(pinned))
        rows.select(
            *[c for c in rows.columns if c != "cell"],
            F.lit(_bump_seq(idx_dir)).cast("long").alias(_SEQ),
            F.col("cell").alias(_CELL),
        ).write.mode("append").parquet(os.path.join(assigned, f"cell={_DELTA_CELL}"))
        if pinned is None:
            # a store written before pins: pin the union schema a
            # mergeSchema read infers, so later probes skip footers
            merged = rows.sparkSession.read.option("mergeSchema", "true").parquet(
                assigned
            )
            _write_store_schemas(idx_dir, assigned=_pin_from_written(merged.schema))

    _locked(root, write)


def append_to_ivf_store(
    batch: DataFrame,
    root: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Assign new vectors to the EXISTING centroids and write them into
    the version's delta partition (:func:`_append_delta`) — batch-sized
    cost, corpus never re-read. The batch must carry the store's
    attribute columns, and their values are CAST to the store's types
    (names AND types are read from the live version, never from the
    batch — a batch carrying ``label`` as a different type would
    otherwise append type-mismatched parquet into the store and break
    later probes/rebuilds). Casts
    go through ``try_cast`` with an explicit null-introduced check
    that raises ``ValueError`` when any value fails to cast — Spark's
    plain CAST only raises under ANSI mode (Spark 4 default), and on
    3.5 a bad value would silently become NULL, corrupting filterable
    store metadata."""
    spark = batch.sparkSession

    def assigned(idx_dir: str) -> DataFrame:
        store_schema = _read_store_schemas(idx_dir).get(
            "assigned"
        ) or spark.read.parquet(os.path.join(idx_dir, _ASSIGNED)).schema
        attr_types = {
            f.name: f.dataType
            for f in store_schema.fields
            if f.name not in (id_col, vec_col, "cell", _SEQ, _CELL)
        }
        attrs = tuple(attr_types)
        missing = [a for a in attrs if a not in batch.columns]
        if missing:
            raise ValueError(
                f"append_to_ivf_store: batch lacks store attribute columns {missing}"
            )
        if attrs:
            # try_cast + null-introduced check: one batch-sized aggregate.
            # Plain CAST raises only under ANSI (Spark 4); on 3.5 a bad
            # value silently nulls, so the check must be value-level.
            nulled = batch.select(
                *[
                    F.sum(
                        (
                            F.col(a).isNotNull()
                            & F.col(a).try_cast(attr_types[a]).isNull()
                        ).cast("int")
                    ).alias(a)
                    for a in attrs
                ]
            ).first()
            bad = [a for a in attrs if (nulled[a] or 0) > 0]
            if bad:
                raise ValueError(
                    "append_to_ivf_store: batch values not castable to the "
                    f"store's attribute types in columns {bad} "
                    f"(store types: { {a: attr_types[a].simpleString() for a in bad} })"
                )
        conformed = batch.select(
            id_col,
            vec_col,
            *[F.col(a).try_cast(attr_types[a]).alias(a) for a in attrs],
        )
        _, cnorm = _read_centroids(spark, idx_dir)
        return conformed.mapInPandas(
            _assign_fn(cnorm, id_col, vec_col, attrs),
            schema=f"{id_col} long, {vec_col} array<float>"
            + _attr_schema(conformed, attrs)
            + ", cell int",
        )

    _append_delta(root, assigned)


def delete_from_ivf_store(
    spark: SparkSession,
    root: str,
    *,
    ids: "list[int] | None" = None,
    where: str | None = None,
    id_col: str = "vec_id",
) -> int:
    """FAISS ``remove_ids`` / Delta deletion-vector parity: delete
    vectors from the live version by explicit id list OR by a SQL
    predicate over the store's columns (attributes, id — anything in
    the assigned schema). Returns the number of LIVE rows deleted.

    Deleting rewrites nothing: the matching ids become tombstones
    (operators/store.py), which every read path of both IVF stores
    subtracts through :func:`_load_assigned` and the next rebuild
    compacts. A predicate delete scans the (columnar) store once to
    find ids and never touches vectors. Exactly one of ``ids`` /
    ``where`` must be given; deleting ids not in the store returns 0.
    Tombstones are generation-scoped, so a LATER append of a deleted
    id resurrects it."""
    return _delete(
        spark, root, "delete_from_ivf_store",
        lambda idx_dir: _load_assigned(spark, idx_dir, id_col), id_col, ids, where,
    )


def update_ivf_store(
    batch: DataFrame,
    root: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """UPDATE (re-embed / metadata change) — the verb that completes
    the store's CRUD (FAISS has no update, Delta calls this MERGE):
    tombstone the CURRENT generation of the batch's ids, then append
    the batch as a NEW write generation. The appended rows carry
    ``__seq`` greater than the tombstone's, so the update is visible
    immediately on every read path — no rebuild required; the
    superseded rows compact away at the next rebuild like any delete.

    Ids in the batch that are not live simply insert (upsert
    semantics). The batch must be pk-unique on ``id_col`` (two rows for
    one id in a single batch would both land in the same generation —
    raises). Returns the number of previously-live rows superseded.
    Cost: one tombstone write (delete-sized) + one append
    (batch-sized); the corpus is never re-read."""
    spark = batch.sparkSession
    # ONE job for the pk-uniqueness check (count + distinct-count in a
    # single aggregate) instead of two full passes over a batch whose
    # upstream may be an expensive re-embedding pipeline. The batch is
    # still evaluated once more by the append below — same determinism
    # contract as every multi-pass operator here (global_row_number):
    # nondeterministic sources must be persisted/checkpointed by the
    # caller first.
    counts = batch.agg(
        F.count(F.lit(1)).alias("__n"),
        F.count_distinct(F.col(id_col)).alias("__d"),
    ).first()
    if counts["__n"] != counts["__d"]:
        raise ValueError(
            f"update_ivf_store: batch must be unique on {id_col}"
        )
    ids = batch.select(id_col).distinct()
    n = _tombstone(
        root, id_col,
        lambda idx_dir: _load_assigned(spark, idx_dir, id_col)
        .select(id_col)
        .join(F.broadcast(ids), id_col, "left_semi"),
    )
    append_to_ivf_store(batch, root, id_col=id_col, vec_col=vec_col)
    return n


def _probe_cells(
    qvecs: np.ndarray, cnorm: np.ndarray, cells: np.ndarray, nprobe: int
) -> np.ndarray:
    """The ``nprobe`` nearest cells of each query (rows of ``qvecs``),
    nearest first, under the cell rule; ``cells`` maps centroid rows to
    cell ids. A zero-norm query scores 0.0 against every centroid."""
    return cells[nearest_cells(unit_rows(qvecs), cnorm, nprobe)]


def _probe_pairs(
    spark: SparkSession,
    idx_dir: str,
    queries_pdf: pd.DataFrame,
    *,
    nprobe: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    where: str | None,
) -> DataFrame:
    """The scored (query, stored vector) pairs of a store probe:
    ``query_id_col, id_col, cos_sim`` for every live row of the
    ``nprobe`` cells each query picks, minus the row whose id equals
    the query id. Shared by :func:`ivf_store_topk` and
    :func:`ivf_store_range_search`.

    Centroids and vectors both come from the version dir ``idx_dir``.
    The plan is one partition-pruned scan of the probed sealed cells
    and the delta (:func:`_load_assigned` given ``cells``) with the
    optional ``where`` pre-filter on it, and ONE broadcast join on
    ``cell`` against an Arrow-built (query, cell, query vector)
    relation of queries x nprobe rows. Norms are computed once per
    row, not once per pair: ``__en`` on the scan side before the join,
    ``__qn`` on the probe relation, and ``functions.vectors.cosine_of_norms``
    divides by them, so the scores are bit-identical to ``cosine``."""
    cells, cnorm = _read_centroids(spark, idx_dir)
    qids = np.asarray(queries_pdf[query_id_col], dtype=np.int64)
    qvecs = np.stack(queries_pdf[vec_col].to_numpy())
    probe = _probe_cells(qvecs.astype(np.float64), cnorm, cells, nprobe)
    per_query = probe.shape[1]
    probe_rel = _arrow_relation(
        spark,
        **{
            query_id_col: np.repeat(qids, per_query),
            "cell": probe.reshape(-1),
            "__qv": np.repeat(qvecs.astype(np.float32), per_query, axis=0),
        },
    ).withColumn("__qn", norm(F.col("__qv")))
    # partition-pruned scan of the probed sealed cells plus the delta
    assigned = _load_assigned(spark, idx_dir, id_col, np.unique(probe).tolist())
    if where is not None:
        assigned = assigned.filter(F.expr(where))
    return (
        assigned.withColumn("__en", norm(F.col(vec_col)))
        .join(F.broadcast(probe_rel), "cell")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            cosine_of_norms(
                F.col(vec_col), F.col("__qv"), F.col("__en"), F.col("__qn")
            ).alias("cos_sim"),
        )
    )


def ivf_store_topk(
    spark: SparkSession,
    root: str,
    queries_pdf: pd.DataFrame,
    *,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    where: str | None = None,
) -> DataFrame:
    """Probe ``nprobe`` cells per query; the ``cell IN (...)`` predicate
    prunes to the probed sealed cell directories and the delta before
    any distance math. The version
    pointer is resolved ONCE up front, so centroids and vectors come
    from the same index snapshot even under a concurrent rebuild.

    ``where`` is a SQL predicate over the store's attribute columns
    (``build_ivf_store(attr_cols=...)``) — PRE-FILTER filtered ANN:
    the predicate lands on the already-partition-pruned scan, so
    Catalyst pushes simple comparisons into the parquet reader
    (PushedFilters) and non-matching rows die before any distance
    math. Post-filtering top-k results instead would silently return
    fewer than k; pre-filtering keeps k exact among the matching
    subset (same strategy as similarity.filtered_cosine_topk, at the
    persisted-store level)."""
    idx_dir = current_index_dir(root)
    if queries_pdf.empty:
        return empty_topk(spark, query_id_col, id_col)
    scored = _probe_pairs(
        spark, idx_dir, queries_pdf, nprobe=nprobe, id_col=id_col,
        vec_col=vec_col, query_id_col=query_id_col, where=where,
    )
    return topk(scored, k, by=query_id_col, id_col=id_col)


def ivf_store_range_search(
    spark: SparkSession,
    root: str,
    queries_pdf: pd.DataFrame,
    *,
    radius: float,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    where: str | None = None,
) -> DataFrame:
    """FAISS ``range_search`` parity on the persisted store: ALL
    neighbors with ``cos_sim >= radius`` per query, not a fixed k —
    the right verb when the answer size is data-dependent (near-dup
    discovery around a probe document, recall-oriented retrieval).

    Same probe as :func:`ivf_store_topk` (one pointer resolve,
    ``cell IN`` partition-pruned scan, optional pre-filter ``where``
    pushed into the parquet reader, self-exclusion by id) but the rank
    window is replaced by a radius predicate — no shuffle at all after
    the scan-side join: the threshold filters inside the scan stage,
    and the output needs no per-query ordering. At ``nprobe = nlist``
    the result is exact (the x07 device), which is what makes the
    brute-force SQL a full value-hash oracle; at production nprobe it
    inherits IVF's probed-cells recall contract. Output is
    deterministic as a SET (no rank column to tie-break)."""
    idx_dir = current_index_dir(root)
    if queries_pdf.empty:
        return spark.createDataFrame(
            [], f"{query_id_col} long, {id_col} long, cos_sim double"
        )
    return _probe_pairs(
        spark, idx_dir, queries_pdf, nprobe=nprobe, id_col=id_col,
        vec_col=vec_col, query_id_col=query_id_col, where=where,
    ).filter(F.col("cos_sim") >= F.lit(float(radius)))


def rebuild_ivf_store(
    spark: SparkSession,
    root: str,
    *,
    nlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 43,
    train_iters: int = 2,
) -> None:
    """Drift repair: re-train centroids from the CURRENT contents of the
    store (base + every appended batch, minus tombstoned rows) into a
    new version and commit it (the store.py rebuild: under the write
    lock, readers unblocked, a waiting writer retries on the new
    version). ``nlist`` defaults to the existing centroid count; a
    different seed than build's keeps the rebuild's sample independent
    of the original. Attribute columns survive; ``cell`` is reassigned
    by the new quantizer."""

    def build(cur_dir: str, new_dir: str) -> None:
        full = _load_assigned(spark, cur_dir, id_col)
        attrs = tuple(c for c in full.columns if c not in (id_col, vec_col, "cell"))
        _build_into(
            full.select(id_col, vec_col, *attrs), new_dir,
            nlist or len(_read_centroids(spark, cur_dir)[0]), id_col, vec_col,
            seed, train_iters, attr_cols=attrs,
        )

    _rebuild(root, build)
