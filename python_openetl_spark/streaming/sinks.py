"""Streaming sinks: foreachBatch MERGE-upsert into a ParquetTable.

The streaming generalization of the reference's update pipeline
(`/root/reference/pyopenetl/operations.py:515-609`): every micro-batch
is a delta, merged with the same join-based MERGE used in batch
(operators/merge.py). Exactly-once: foreachBatch can replay a batch
after a failure, so the sink records the last applied ``batch_id`` next
to the table and skips replays — idempotent MERGE by construction
(SURVEY §7 M3 hard part).
"""

from __future__ import annotations

import json
import logging
import os

from pyspark.sql import DataFrame

from python_openetl_spark.operators.merge import merge_upsert
from python_openetl_spark.plans.commit import write_json
from python_openetl_spark.plans.pipelines import ParquetTable


class _BatchMarker:
    """Shared replay guard: a sink applies a micro-batch only when its id
    is above the last applied one, stored as a JSON marker file
    (``plans.commit.write_json``) at ``_marker_base``.

    The marker is scoped by the streaming query: batch ids restart at 0
    for every NEW query (fresh checkpoint), so one unscoped marker
    would drop a second stream's batches up to the first stream's last
    id. Inside ``foreachBatch`` Spark sets the local property
    ``sql.streaming.queryId``, which is stable across restarts from one
    checkpoint, and the marker name carries it. A direct call outside a
    stream has no query id and uses the unscoped name.

    Scope: driver-local filesystem — valid exactly where ParquetTable
    itself is (single driver host, POSIX; see its docstring). On an
    object store or a cluster whose driver can restart elsewhere, swap
    ParquetTable for a Delta/Iceberg table whose commit log carries the
    batch id (the ``txnAppId``/``txnVersion`` pattern) — the merge
    logic is unchanged. DedupIngestSink shows the marker-free
    alternative (per-batch partition overwrite).
    """

    _marker_base: str

    def _marker_path(self, query_id: str | None) -> str:
        if query_id is None:
            return self._marker_base
        stem, ext = os.path.splitext(self._marker_base)
        return f"{stem}.{query_id}{ext}"

    def _last_batch(self, path: str) -> int:
        try:
            with open(path) as f:
                return json.load(f)["batch_id"]
        except FileNotFoundError:
            return -1  # first batch of this stream
        except (OSError, ValueError, KeyError) as e:
            # a torn/unreadable marker is NOT the no-marker case: the
            # write is an atomic os.replace, so corruption means real
            # trouble. Warn loudly; returning -1 re-applies the batch
            # (at-least-once), never drops data.
            logging.getLogger(__name__).warning(
                "%s: unreadable batch marker %s (%s); treating as absent — "
                "replayed batches may be applied again",
                type(self).__name__,
                path,
                e,
            )
            return -1

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        sc = batch_df.sparkSession.sparkContext
        path = self._marker_path(sc.getLocalProperty("sql.streaming.queryId"))
        if batch_id <= self._last_batch(path):
            return  # replayed micro-batch → already applied, skip
        self._apply(batch_df)
        write_json(path, {"batch_id": batch_id})

    def _apply(self, batch_df: DataFrame) -> None:
        raise NotImplementedError


class Scd2Sink(_BatchMarker):
    """``writeStream.foreachBatch(Scd2Sink(table, pk, ts_col))`` —
    streaming history-preserving dimension maintenance.

    Each micro-batch is an SCD2 delta: changed keys close their current
    version and open a new one stamped with the batch's max event time
    (so versions carry *data* time, not processing time). Replay-safe:
    the ``_BatchMarker`` guard makes re-delivered micro-batches no-ops,
    and scd2_merge itself ignores no-change rows.
    """

    def __init__(self, table: ParquetTable, pk: str, ts_col: str):
        self.table = table
        self._marker_base = table.path + ".last_batch"
        self.pk = pk
        self.ts_col = ts_col

    def _apply(self, batch_df: DataFrame) -> None:
        from pyspark.sql import functions as F

        from python_openetl_spark.operators.merge import dedupe_latest
        from python_openetl_spark.operators.scd import scd2_init, scd2_merge

        row = batch_df.agg(F.max(self.ts_col).alias("m")).collect()[0]
        if row["m"] is None:
            return  # empty micro-batch
        as_of = row["m"]
        # several events per key in one micro-batch: latest state wins
        delta = dedupe_latest(batch_df, self.pk, self.ts_col).drop(self.ts_col)
        spark = batch_df.sparkSession
        if self.table.exists():
            merged = scd2_merge(
                self.table.read(spark), delta, self.pk, as_of, order_col=None
            )
        else:
            merged = scd2_init(delta, as_of)
        self.table.overwrite(merged)


class UpsertSink(_BatchMarker):
    """``writeStream.foreachBatch(UpsertSink(table, pk, order_col))``.

    Replay guard scope: see ``_BatchMarker``.
    """

    def __init__(self, table: ParquetTable, pk: str, order_col: str | None = None):
        self.table = table
        self._marker_base = table.path + ".last_batch"
        self.pk = pk
        self.order_col = order_col

    def _apply(self, batch_df: DataFrame) -> None:
        spark = batch_df.sparkSession
        if self.table.exists():
            target = self.table.read(spark)
            merged = merge_upsert(target, batch_df, self.pk, order_col=self.order_col)
        elif self.order_col is not None:
            # table-creating first batch: collapse duplicate pks exactly
            # as merge_upsert would have (last-write-wins per order_col)
            from python_openetl_spark.operators.merge import dedupe_latest

            merged = dedupe_latest(batch_df, self.pk, self.order_col)
        else:
            merged = batch_df
        self.table.overwrite(merged)


class DedupIngestSink:
    """``writeStream.foreachBatch(DedupIngestSink(corpus_root, store_root))``
    — streaming corpus ingest with incremental content dedup: each
    micro-batch is classified against the persistent fingerprint store
    (:func:`operators.dedup.incremental_dedup`); only first-seen content
    lands in the corpus, and its fingerprints extend the store.

    Exactly-once WITHOUT a marker file: both outputs are laid out as
    ``root/batch_id=N`` partitions and each batch OVERWRITES its own
    partition. Classification reads only strictly-earlier partitions
    (``batch_id < N`` — partition-pruned), so a replayed batch sees the
    identical store state and rewrites byte-identical partitions no
    matter how far the failed attempt got. This also works on object
    stores / relocatable drivers, where the marker-file sinks degrade
    (their documented scope).

    Scale shape: per micro-batch one shuffle of the batch on the 16-byte
    fp key plus a hash join against the store scan; the store carries
    one row per distinct content ever seen, never the text itself.
    """

    def __init__(self, corpus_root: str, store_root: str,
                 text_col: str = "text", id_col: str = "doc_id"):
        self.corpus_root = corpus_root
        self.store_root = store_root
        self.text_col = text_col
        self.id_col = id_col

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from python_openetl_spark.operators.dedup import incremental_dedup

        spark = batch_df.sparkSession
        if os.path.exists(self.store_root):
            seen = (
                spark.read.parquet(self.store_root)
                .filter(F.col("batch_id") < batch_id)
                .select("fp")
            )
        else:
            seen = spark.createDataFrame([], "fp string")
        classified = incremental_dedup(batch_df, seen, self.text_col, self.id_col)
        new_ids = classified.filter(F.col("status") == "new").select(self.id_col, "fp")
        new_rows = batch_df.join(new_ids.select(self.id_col), self.id_col, "left_semi")
        new_rows.write.mode("overwrite").parquet(f"{self.corpus_root}/batch_id={batch_id}")
        new_ids.select("fp").write.mode("overwrite").parquet(
            f"{self.store_root}/batch_id={batch_id}"
        )


class NearDupIngestSink:
    """``writeStream.foreachBatch(NearDupIngestSink(corpus_root,
    store_root))`` — streaming corpus ingest with incremental NEAR-dup
    rejection: each micro-batch is classified against the persistent
    LSH band-key store (:func:`operators.dedup.incremental_near_dedup`);
    only documents with no band collision against the store — and, for
    collisions inside the batch, the smallest id of each colliding
    group — land in the corpus, and their band keys extend the store.

    The exactly-once layout is identical to :class:`DedupIngestSink`:
    both outputs live under ``root/batch_id=N`` partitions, each batch
    overwrites its own partition, and classification reads only
    strictly-earlier partitions, so replays rewrite byte-identical
    output. The store carries ``num_bands`` (band, k1, k2) longs per
    accepted document — a few dozen bytes regardless of text size.
    """

    def __init__(self, corpus_root: str, store_root: str,
                 text_col: str = "text", id_col: str = "doc_id",
                 *, shingle_n: int = 3, num_hashes: int = 16, num_bands: int = 4):
        self.corpus_root = corpus_root
        self.store_root = store_root
        self.text_col = text_col
        self.id_col = id_col
        self.lsh = dict(shingle_n=shingle_n, num_hashes=num_hashes, num_bands=num_bands)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from python_openetl_spark.operators.dedup import (
            incremental_near_dedup,
            minhash_band_keys,
        )

        spark = batch_df.sparkSession
        if os.path.exists(self.store_root):
            store = (
                spark.read.parquet(self.store_root)
                .filter(F.col("batch_id") < batch_id)
                .select("band", "k1", "k2")
            )
        else:
            store = spark.createDataFrame([], "band int, k1 long, k2 long")
        classified = incremental_near_dedup(
            batch_df, store, self.text_col, self.id_col, **self.lsh
        )
        new_ids = classified.filter(F.col("status") == "new").select(self.id_col)
        new_rows = batch_df.join(new_ids, self.id_col, "left_semi")
        new_rows.write.mode("overwrite").parquet(
            f"{self.corpus_root}/batch_id={batch_id}"
        )
        minhash_band_keys(new_rows, self.text_col, self.id_col, **self.lsh).select(
            "band", "k1", "k2"
        ).write.mode("overwrite").parquet(f"{self.store_root}/batch_id={batch_id}")


class CmsIngestSink:
    """``writeStream.foreachBatch(CmsIngestSink(store_root))`` —
    continuously-maintained heavy-hitter counting over a document
    stream, in fixed memory per batch.

    Exploits the Count-Min Sketch's LINEARITY (operators/sketches.py):
    cms(A ∪ B) = cms(A) + cms(B) cell-wise, so each micro-batch writes
    only its own partial sketch to ``store_root/batch_id=N`` and the
    up-to-date sketch is one ``groupBy(row, bucket).sum`` over the
    partitions — no read-modify-write of global state, no state-store
    operator, and the merged result is BIT-IDENTICAL to a batch build
    over everything ingested (pinned in tests/test_streaming.py).

    Exactly-once without a marker: a batch's partial sketch depends on
    nothing but the batch itself, so a replay overwrites its own
    partition with identical bytes (the DedupIngestSink layout, minus
    even the strictly-earlier read).

    Scale shape: each partial is ≤ depth x width rows (16 KiB of longs
    at the defaults) regardless of batch size; merging S batches
    shuffles ≤ S·depth·width counter rows, never tokens. Compact the
    partition dirs periodically by rewriting their sum — linearity
    again — if S grows unbounded.
    """

    def __init__(self, store_root: str, text_col: str = "text", *,
                 depth: int | None = None, width: int | None = None):
        from python_openetl_spark.operators.sketches import CMS_DEPTH, CMS_WIDTH

        self.store_root = store_root
        self.text_col = text_col
        self.depth = depth if depth is not None else CMS_DEPTH
        self.width = width if width is not None else CMS_WIDTH

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from python_openetl_spark.operators.sketches import cms_build

        part = cms_build(
            batch_df, self.text_col, depth=self.depth, width=self.width
        )
        part.write.mode("overwrite").parquet(
            f"{self.store_root}/batch_id={batch_id}"
        )

    def merged(self, spark) -> DataFrame:
        """The current sketch: cell-wise sum over every ingested batch."""
        from pyspark.sql import functions as F

        return (
            spark.read.parquet(self.store_root)
            .groupBy("row", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )

    def estimate(self, spark, candidates: DataFrame, tok_col: str = "tok") -> DataFrame:
        """Point estimates for candidate tokens against the current
        merged sketch (same one-sided guarantee as the batch path)."""
        from python_openetl_spark.operators.sketches import cms_estimate

        return cms_estimate(
            self.merged(spark), candidates, tok_col,
            depth=self.depth, width=self.width,
        )


class ChunkIngestSink:
    """``writeStream.foreachBatch(ChunkIngestSink(chunks_root, store_root))``
    — streaming ingest that context-window-CHUNKS incoming documents
    (:func:`operators.textops.chunk_documents`) and keeps only
    first-seen chunks by span fingerprint: the streaming form of
    chunk-level dedup (documents repeat boilerplate spans long before
    they repeat wholesale; chunk-grain dedup catches both).

    Exactly-once protocol = DedupIngestSink's batch-partition scheme:
    both outputs are ``root/batch_id=N`` partitions overwritten by
    their own batch; the fingerprint store is read partition-pruned at
    ``batch_id < N``, so replays are byte-identical. Within a batch,
    the first (doc_id, chunk_idx) owner of a fingerprint wins —
    deterministic under any partitioning.

    Scale shape: chunking is in-scan expansion (no shuffle); the only
    shuffles are the 16-byte fingerprint anti-join against the store
    and the within-batch first-wins window, both on chunk_fp.
    """

    def __init__(self, chunks_root: str, store_root: str,
                 text_col: str = "text", id_col: str = "doc_id", *,
                 chunk_tokens: int = 32, overlap: int = 8):
        self.chunks_root = chunks_root
        self.store_root = store_root
        self.text_col = text_col
        self.id_col = id_col
        self.chunk_tokens = chunk_tokens
        self.overlap = overlap

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from python_openetl_spark.operators.textops import chunk_documents

        spark = batch_df.sparkSession
        chunks = chunk_documents(
            batch_df,
            chunk_tokens=self.chunk_tokens,
            overlap=self.overlap,
            text_col=self.text_col,
            id_col=self.id_col,
        )
        if os.path.exists(self.store_root):
            from pyspark.sql import functions as _F

            seen = (
                spark.read.parquet(self.store_root)
                .filter(_F.col("batch_id") < batch_id)
                .select("fp")
            )
        else:
            seen = spark.createDataFrame([], "fp string")
        fresh = chunks.join(
            seen.withColumnRenamed("fp", "chunk_fp"), "chunk_fp", "left_anti"
        )
        w = Window.partitionBy("chunk_fp").orderBy(
            F.col(self.id_col).asc(), F.col("chunk_idx").asc()
        )
        firsts = (
            fresh.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        firsts.write.mode("overwrite").parquet(
            f"{self.chunks_root}/batch_id={batch_id}"
        )
        firsts.select(F.col("chunk_fp").alias("fp")).write.mode("overwrite").parquet(
            f"{self.store_root}/batch_id={batch_id}"
        )


class VersionedCdcSink:
    """``writeStream.foreachBatch(VersionedCdcSink(path, pk, order_col))``
    — streaming upsert into a :class:`plans.versioned.VersionedTable`:
    every micro-batch MERGEs into the current snapshot and commits the
    result as a NEW immutable version, so downstream consumers get both
    the live table AND the per-batch CDC feed (``changes(spark, pk,
    v-1, v)``) and time travel for free.

    Exactly-once without a side channel: the idempotence token
    ``cdc-{batch_id}`` rides in the SAME atomic pointer commit
    (VersionedTable.commit(txn=...), the Delta txnAppId/txnVersion
    pattern), so a replayed micro-batch — foreachBatch is
    at-least-once — finds its token already committed and no-ops.
    Unlike _BatchMarker's separate marker file, there is no crash
    window between data write and marker write: the pointer IS both."""

    def __init__(self, path: str, pk: str, order_col: str | None = None):
        self.path = path
        self.pk = pk
        self.order_col = order_col

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from python_openetl_spark.plans.versioned import VersionedTable

        table = VersionedTable(self.path)
        txn = f"cdc-{batch_id}"
        if table.has_txn(txn):
            return  # replayed micro-batch: token already committed
        spark = batch_df.sparkSession
        if table.current_version() is not None:
            merged = merge_upsert(
                table.read(spark), batch_df, self.pk, order_col=self.order_col
            )
        elif self.order_col is not None:
            from python_openetl_spark.operators.merge import dedupe_latest

            merged = dedupe_latest(batch_df, self.pk, self.order_col)
        else:
            merged = batch_df
        # no staging dance needed: the merge READS the old version dir
        # and the commit WRITES a brand-new one — immutable versions
        # make the upsert conflict-free by construction
        table.commit(merged, txn=txn)


class IvfAppendSink(_BatchMarker):
    """``writeStream.foreachBatch(IvfAppendSink(root))`` — streaming
    vector ingest into a persisted IVF store (operators/ivf_store.py):
    each micro-batch is assigned to the EXISTING coarse centroids and
    appended to the store's ``cell=-1`` delta partition, which every
    probe reads and a rebuild folds away, at batch-sized cost — the store's
    add-after-train contract driven by a stream, which is how a
    production vector index actually fills (documents arrive
    continuously; the quantizer retrains on a schedule, not per batch).

    Replay guard: the ``_BatchMarker`` marker, kept at the STORE ROOT,
    not inside a version directory, so replay protection survives a
    rebuild swapping the live version mid-stream. Spark's normal
    foreachBatch redelivery (same batch re-offered after a restart)
    no-ops on the marker. The one remaining window is a crash BETWEEN
    the append and the marker write: plain parquet appends to the delta
    cannot commit data and marker atomically, so that window re-appends
    the batch (duplicate rows cost shortlist slots, never wrong ranks —
    probes order by (cos, id)). Exactly-once needs the data write and
    the token in ONE atomic commit, which is the versioned-pointer
    design (:class:`VersionedCdcSink`); an IVF store trades that for
    append-in-place delta files that need no version swap."""

    def __init__(self, root: str, *, id_col: str = "vec_id", vec_col: str = "embedding"):
        self.root = root
        self._marker_base = os.path.join(root, "_stream_last_batch.json")
        self.id_col = id_col
        self.vec_col = vec_col

    def _apply(self, batch_df: DataFrame) -> None:
        from python_openetl_spark.operators.ivf_store import append_to_ivf_store

        append_to_ivf_store(
            batch_df, self.root, id_col=self.id_col, vec_col=self.vec_col
        )


class JoinViewSink:
    """``writeStream.foreachBatch(JoinViewSink(path, b_static, on))`` —
    streaming incremental JOIN-view maintenance: a materialized
    ``A ⋈ B`` view (counting form, operators/ivm.py) advanced by every
    micro-batch of counting deltas of A (data columns + ``mult`` ±k,
    e.g. a CDC feed through ``ivm.cdc_to_counting_delta``). With B
    static, the Gupta-Mumick maintenance is ``view + ΔA ⋈ B`` — the
    ``A_old ⋈ ΔB`` and ``ΔA ⋈ ΔB`` terms vanish — so each batch costs
    one delta-sized join plus a count merge; accumulated A is NEVER
    re-joined. The streaming answer the reference's sliding-window
    re-query approximates (operations.py:515-609).

    Exactly-once: the idempotence token ``jv-{batch_id}`` rides in the
    VersionedTable pointer commit itself (the VersionedCdcSink
    pattern — no crash window between data and marker), so at-least-
    once micro-batch replays no-op; downstream gets time travel and
    the per-version CDC feed of the VIEW for free."""

    def __init__(self, path: str, b_static: DataFrame, on):
        self.path = path
        self.b = b_static
        self.on = on

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from python_openetl_spark.operators.ivm import (
            MULT,
            join_view,
            maintain_join_view,
        )
        from python_openetl_spark.plans.versioned import VersionedTable

        table = VersionedTable(self.path)
        txn = f"jv-{batch_id}"
        if table.has_txn(txn):
            return  # replayed micro-batch: token already committed
        spark = batch_df.sparkSession
        a_empty = batch_df.drop(MULT).limit(0)
        db_empty = self.b.limit(0).withColumn(MULT, F.lit(0).cast("long"))
        if table.current_version() is not None:
            view = table.read(spark)
        else:
            view = join_view(a_empty, self.b, self.on)  # empty, view shape
        new = maintain_join_view(
            view, a_empty, self.b, batch_df, db_empty, self.on
        )
        table.commit(new, txn=txn)
