"""Persisted, incrementally-maintained inverted index — the sparse
(lexical) sibling of operators/ivf_store.py.

``update_postings`` (operators/retrieval.py) maintains postings as a
DataFrame-in/DataFrame-out operator, but with no on-disk store a 100 TB
decontamination sweep re-tokenizes the whole corpus per retrieval job.
This store keeps the lexical index under the generational-store
protocol of operators/store.py (versions behind one atomic pointer,
the write lock and write generations, pinned read schemas,
generation-scoped ``doc_id`` tombstones, rebuild and vacuum), with this
layout inside each version:

    v0000000N/postings/bucket=<b>/... (term, doc_id, tf, __seq)
    v0000000N/doclens/...             (doc_id, dl, __seq)
    v0000000N/_meta.json              {"n_buckets": B} (+ "positions")

- :func:`build_postings_store` — tokenize the corpus ONCE
  (retrieval.build_postings: explode → map-side-combined (term, doc)
  aggregate), hive-partition the postings by a stable term-hash
  bucket, and write generation 0. The bucket layout is the sparse
  analog of the IVF ``cell=`` partitioning: a probe prunes to the
  query vocabulary's bucket DIRECTORIES, so query cost scales with
  the vocabulary probed, not the corpus indexed.
- :func:`append_to_postings_store` — batch-sized ingest with
  update_postings' delete-then-insert semantics made durable: the
  batch's postings/doclens append at the bumped generation FIRST,
  then the batch doc_ids that were already live are tombstoned at the
  pre-bump generation — so re-ingesting an EDITED document replaces
  its stale postings instead of double-counting tf/df, and the
  indexed corpus is never re-read or re-tokenized.
- :func:`delete_from_postings_store` — id tombstones (delete-sized;
  one broadcast anti-join at read; compacts at rebuild).
- :func:`apply_cdc_to_postings_store` — one change-data-capture batch
  of deletes and upserts.
- :func:`postings_store_topk` — Okapi BM25 over the LIVE store rows,
  bit-identical to retrieval.bm25_topk on the equivalent corpus state
  (both call the ONE shared scoring tail, retrieval.bm25_rank_topk),
  so the full lifecycle is value-hash oracle-checkable.
- :func:`postings_snapshot` — one-resolution ``(postings, doclens)``
  read for callers composing both (two independent pointer reads
  around a concurrent rebuild commit could mix versions).
- :func:`suggest_buckets` — ~sqrt(V) bucket-count rule for
  build/rebuild, so probe pruning keeps up with vocabulary growth.
- :func:`rebuild_postings_store` — compact tombstones into a new
  version (the store.py rebuild); superseded versions are pruned by
  the protocol's one vacuum, :func:`operators.ivf_store.vacuum_ivf_store`.
- :func:`build_positional_postings_store` /
  :func:`postings_store_phrase` — the positional variant (postings
  carry 1-based token positions) and the exact-phrase containment
  probe built on it: which live documents quote a phrase VERBATIM
  (contiguous token sequence), the phrase-level decontamination
  primitive e02's n-gram hashes approximate. Pure integer/set
  arithmetic — exactly oracle-checkable. Appends/deletes/rebuilds
  keep the positional schema (``_meta.json`` records the variant).

Scale shape (the 100 TB story): postings shuffle once at build (rows
bounded by distinct (term, doc) pairs — never raw token streams);
appends cost O(batch); probes read only the query vocabulary's bucket
partitions, tombstones ride one broadcast, and corpus scalars
(N, Σdl) are a map-side-combined aggregate over the doc-count-sized
doclens table — none of it touches raw text.

Reference parity: the reference (tmccall8829/python-openetl) has no
text retrieval; this extends its incremental-sync architecture
(operations.py:515-609 delta pattern) to the inverted index the
training-data pipeline needs for decontamination sweeps.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_openetl_spark.functions.text import tokens
from python_openetl_spark.operators.materialize import pin
from python_openetl_spark.operators.retrieval import (
    bm25_rank_topk,
    build_postings,
    doc_lengths,
)
from python_openetl_spark.operators.store import (
    _SEQ,
    _bump_seq,
    _commit_version,
    _delete,
    _live,
    _locked,
    _pin,
    _rebuild,
    _scan,
    _tomb_pin,
    _version_dir,
    _write_store_schemas,
    _write_tombstones,
    current_index_dir,
)
from python_openetl_spark.plans.commit import write_json

_POSTINGS = "postings"
_DOCLENS = "doclens"
_META = "_meta.json"


def suggest_buckets(
    n_distinct_terms: int,
    *,
    min_buckets: int = 8,
    max_buckets: int = 4096,
) -> int:
    """Bucket-count rule for build/rebuild (probe pruning depends on
    vocabulary/bucket geometry, and a fixed default silently degrades
    as the vocabulary grows): the next power of two
    at or above ``sqrt(V)``, clamped to ``[min_buckets, max_buckets]``.

    Why ~sqrt(V): a probe reads the bucket DIRECTORIES its query
    vocabulary hashes into — for Q distinct query terms that is at
    most min(Q, B) of B directories, each holding ~V/B terms' postings.
    Growing B shrinks both the fraction of directories a driver-bounded
    query touches (Q/B) and the postings volume per touched directory
    (V/B), while every append writes up to B files per generation
    (``_write_generation`` repartitions by bucket first) — so B must
    not outrun the store's append cadence or the layout slivers into
    tiny files. B = sqrt(V) balances the two: directories-read and
    terms-per-directory shrink together, and files-per-generation stays
    O(sqrt(V)). ``max_buckets`` is the files-per-generation cap; raise
    it only when appends are large and infrequent. A different B is a
    REBUILD, never an append (the build-time hash must match every
    later append's — ``_meta.json`` records it)."""
    import math

    if n_distinct_terms < 1:
        return min_buckets
    b = 1 << max(0, math.ceil(math.log2(math.sqrt(n_distinct_terms))))
    return max(min_buckets, min(max_buckets, b))


def _bucket_col(term_col: str, n_buckets: int):
    """Stable term→bucket assignment: pmod(xxhash64(term), B). Fixed
    per store version (recorded in _meta.json) so build and every
    later append agree; a different B is a rebuild, never an append."""
    return F.pmod(F.xxhash64(F.col(term_col)), F.lit(n_buckets)).cast("int")


def _read_meta(idx_dir: str) -> dict:
    with open(os.path.join(idx_dir, _META)) as f:
        return json.load(f)


def _write_meta(idx_dir: str, meta: dict) -> None:
    write_json(os.path.join(idx_dir, _META), meta)


def _posting_cols(meta: dict) -> list[str]:
    return ["term", "doc_id", "tf"] + (["positions"] if meta.get("positions") else [])


def _load_live(spark: SparkSession, idx_dir: str, sub: str) -> DataFrame:
    """The ONE place store contents are read (postings or doclens):
    the pinned scan minus the version's tombstones, so delete
    semantics cannot drift between the probe, stats and rebuild
    paths."""
    return _live(spark, idx_dir, _scan(spark, idx_dir, sub), "doc_id")


def load_postings(
    spark: SparkSession, root: str, *, idx_dir: str | None = None
) -> DataFrame:
    """Live ``(term, doc_id, tf)`` rows of the current version — or of
    an explicitly pinned ``idx_dir``. A caller composing postings WITH
    doc lengths (e.g. corpus stats against postings) must resolve the
    version ONCE and pass it to both loads, or use
    :func:`postings_snapshot`, which does exactly that — two
    independent resolutions around a concurrent rebuild commit can mix
    rows from two versions."""
    if idx_dir is None:
        idx_dir = current_index_dir(root)
    return _load_live(spark, idx_dir, _POSTINGS).select("term", "doc_id", "tf")


def load_doc_lengths(
    spark: SparkSession, root: str, *, idx_dir: str | None = None
) -> DataFrame:
    """Live ``(doc_id, dl)`` rows of the current version — or of an
    explicitly pinned ``idx_dir`` (see :func:`load_postings` for why a
    composing caller must pin)."""
    if idx_dir is None:
        idx_dir = current_index_dir(root)
    return _load_live(spark, idx_dir, _DOCLENS).select("doc_id", "dl")


def postings_snapshot(
    spark: SparkSession, root: str
) -> tuple[DataFrame, DataFrame]:
    """One-resolution snapshot ``(postings, doclens)`` of the live
    store: the version pointer is read ONCE and both frames come from
    that single version dir, so a rebuild committing mid-query cannot
    mix versions between them (the same contract
    :func:`postings_store_topk` keeps internally by resolving
    ``idx_dir`` once). Positional stores include the ``positions``
    column."""
    idx_dir = current_index_dir(root)
    cols = _posting_cols(_read_meta(idx_dir))
    return (
        _load_live(spark, idx_dir, _POSTINGS).select(*cols),
        _load_live(spark, idx_dir, _DOCLENS).select("doc_id", "dl"),
    )


def _write_generation(
    idx_dir: str,
    post: DataFrame,
    dl: DataFrame,
    seq: int,
    n_buckets: int,
    mode: str,
) -> None:
    """Write one generation of postings (bucket-partitioned) and
    doclens, then their pins. Caller holds the store write lock for
    ``mode='append'``."""
    post = post.withColumn(_SEQ, F.lit(seq).cast("long")).withColumn(
        "bucket", _bucket_col("term", n_buckets)
    )
    # repartition by bucket BEFORE the partitioned write: otherwise
    # tasks × buckets sliver files drown later scans
    post.repartition("bucket").write.mode(mode).partitionBy("bucket").parquet(
        os.path.join(idx_dir, _POSTINGS)
    )
    dl = dl.withColumn(_SEQ, F.lit(seq).cast("long"))
    dl.write.mode(mode).parquet(os.path.join(idx_dir, _DOCLENS))
    _write_store_schemas(
        idx_dir,
        postings=_pin(post.schema, "bucket"),
        doclens=_pin(dl.schema),
        deleted=_tomb_pin("doc_id"),
    )


def _write_version(idx_dir: str, meta: dict, post: DataFrame, dl: DataFrame) -> None:
    """A new version directory: its ``_meta.json`` and generation 0."""
    os.makedirs(idx_dir, exist_ok=True)
    _write_meta(idx_dir, meta)
    _write_generation(idx_dir, post, dl, 0, meta["n_buckets"], "errorifexists")


def _build(
    docs: DataFrame, root: str, n_buckets: int, text_col: str, id_col: str,
    positions: bool,
) -> None:
    """Tokenize the corpus once and write version 1, generation 0."""
    meta = {"n_buckets": int(n_buckets), **({"positions": True} if positions else {})}
    make = _build_positional_postings if positions else build_postings
    _write_version(
        _version_dir(root, 1), meta, make(docs, text_col, id_col),
        doc_lengths(docs, text_col, id_col),
    )
    _commit_version(root, 1)


def build_postings_store(
    docs: DataFrame,
    root: str,
    *,
    n_buckets: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Tokenize the corpus once and write version 1, generation 0."""
    _build(docs, root, n_buckets, text_col, id_col, positions=False)


def append_to_postings_store(
    batch_docs: DataFrame,
    root: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> int:
    """Ingest a document batch at batch-sized cost with
    delete-then-insert semantics (update_postings' contract, durable):
    the batch's postings/doclens rows append at the bumped generation
    FIRST, then batch ids that were already live are tombstoned at the
    pre-bump generation (< the new rows' — so the new rows escape and
    are live immediately). Returns the number of previously-live
    documents superseded. Pure inserts (ids not in the store)
    tombstone nothing; a batch with two rows for one id raises (both
    would land in the same generation).

    Crash-safety: tombstoning FIRST would durably delete re-ingested
    docs before their replacement rows existed, so a crash between the
    two writes would silently lose them. With the batch written first,
    a crash before the tombstone commit leaves detectable DUPLICATE
    state instead — the superseded generation still live alongside the
    new one. Re-running the same append repairs it: the retry
    tombstones every live generation of the batch's ids below its own
    new rows."""
    dup = (
        batch_docs.groupBy(F.col(id_col).alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .take(1)
    )
    if dup:
        raise ValueError(
            f"append_to_postings_store: batch must be unique on {id_col}"
        )
    return _ingest(batch_docs, root, text_col, id_col)


def _ingest(batch_docs: DataFrame, root: str, text_col: str, id_col: str) -> int:
    """The append body, for a batch already known unique on ``id_col``."""
    spark = batch_docs.sparkSession
    batch_ids = batch_docs.select(F.col(id_col).alias("doc_id")).distinct()

    def write(idx_dir: str) -> int:
        meta = _read_meta(idx_dir)
        # resolve + materialize the doomed set BEFORE the batch's rows
        # land (afterwards the batch's own rows read as live and would
        # be tombstoned with the stale generations)
        doomed = pin(
            _load_live(spark, idx_dir, _DOCLENS)
            .select("doc_id")
            .join(F.broadcast(batch_ids), "doc_id", "left_semi")
        )
        n = doomed.count()
        seq = _bump_seq(idx_dir)
        # a positional store's appends keep the positional schema:
        # mixing would NULL the positions of appended docs and break
        # phrase probes
        make = _build_positional_postings if meta.get("positions") else build_postings
        _write_generation(
            idx_dir, make(batch_docs, text_col, id_col),
            doc_lengths(batch_docs, text_col, id_col), seq,
            int(meta["n_buckets"]), "append",
        )
        if n:
            # committed LAST, scoped at the pre-bump generation: hides
            # every older generation of these ids, spares the rows just
            # written at ``seq`` (the crash story above)
            _write_tombstones(idx_dir, doomed, "doc_id", seq - 1)
        return n

    return _locked(root, write)


def delete_from_postings_store(
    spark: SparkSession,
    root: str,
    *,
    ids: "list[int] | None" = None,
    where: str | None = None,
) -> int:
    """Tombstone documents by explicit id list OR a SQL predicate over
    the doclens columns (doc_id, dl). Delete-sized cost; read paths
    anti-join the tombstones; compaction happens at the next rebuild.
    Deleting absent ids is a no-op returning 0 (the FAISS semantic)."""
    return _delete(
        spark, root, "delete_from_postings_store",
        lambda idx_dir: _load_live(spark, idx_dir, _DOCLENS), "doc_id", ids, where,
    )


def postings_store_topk(
    spark: SparkSession,
    root: str,
    queries: DataFrame,
    *,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str = "query_id",
    query_text_col: str = "qtext",
) -> DataFrame:
    """Okapi BM25 top-k ``(query_id, doc_id, score, rank)`` over the
    LIVE store — the identical expression tree and round-then-DECIMAL
    determinism contract as retrieval.bm25_topk, so results match the
    from-scratch operator bit-for-bit on the equivalent corpus state.

    Scale shape: the query vocabulary's bucket set is collected once
    (queries are driver-bounded, the bm25_topk contract) and pushed as
    a partition-pruning IN-list, so the scan reads only the matching
    ``bucket=`` DIRECTORIES — probe cost scales with the vocabulary,
    not the index. Corpus scalars (N, Σdl) come from one map-side
    aggregate over live doclens; document frequency is a window over
    the vocabulary-pruned postings."""
    idx_dir = current_index_dir(root)
    n_buckets = int(_read_meta(idx_dir)["n_buckets"])
    qterms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(F.array_distinct(tokens(query_text_col))).alias("term"),
    ).distinct()
    qvocab = qterms.select("term").distinct()
    # one tiny job on the driver-bounded vocabulary: its bucket set
    # becomes a LITERAL IN-list, the only form the scan's partition
    # pruning can consume (a join can't prune hive directories)
    buckets = [
        r[0]
        for r in qvocab.select(
            _bucket_col("term", n_buckets).alias("b")
        ).distinct().collect()
    ]
    post = _load_live(spark, idx_dir, _POSTINGS)
    if buckets:
        post = post.filter(F.col("bucket").isin(buckets))
    postings = post.select("term", "doc_id", "tf").join(
        F.broadcast(qvocab), "term"
    )
    dl = _load_live(spark, idx_dir, _DOCLENS).select("doc_id", "dl")
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    # scoring tail shared verbatim with retrieval.bm25_topk (one
    # construction site; parity is guarded by
    # tests/test_postings_store.py store-vs-scratch equality)
    return bm25_rank_topk(postings, dl, stats, qterms, k=k, k1=k1, b=b)


def apply_cdc_to_postings_store(
    cdc: DataFrame,
    root: str,
    *,
    op_col: str = "op",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Maintain the store from ONE change-data-capture batch — the
    m12/m23 CDC pattern (operators/merge.py apply_cdc) applied to the
    inverted index: rows ``(op, doc_id, text)`` with op ``I``/``U``
    (upsert: insert-or-replace, text required) or ``D`` (delete, text
    ignored). Deletes tombstone first, then the upsert slice ingests
    through the append body (insert-then-tombstone, one write
    generation for the whole upsert slice). The batch must be unique
    on ``id_col`` (a CDC feed is per-key compacted upstream —
    merge.apply_cdc's contract — so each key carries exactly its LAST
    op; two ops for one key in one batch are ambiguous and raise).
    Returns ``{"upserted": n, "deleted": n}`` where ``deleted`` counts
    only previously-live docs (absent-id deletes are no-ops, the FAISS
    semantic). Cost: one aggregate over the batch (the op and
    uniqueness checks, the upsert count and the deleted ids), then
    delete-sized + batch-sized writes — the indexed corpus is never
    re-read or re-tokenized.

    Reference parity: extends the reference's incremental-sync delta
    pattern (operations.py:515-609) to index maintenance; the CDC
    frame shape matches operators/merge.py apply_cdc."""
    spark = cdc.sparkSession
    op, key = F.col(op_col), F.col(id_col)
    batch = cdc.agg(
        F.first(F.when(~op.isin("I", "U", "D"), op), ignorenulls=True).alias("bad"),
        F.count(F.lit(1)).alias("rows"),
        # struct: a NULL key counts as one key, as it groups
        F.count_distinct(F.struct(key)).alias("keys"),
        F.count(F.when(op.isin("I", "U"), 1)).alias("upserts"),
        F.collect_list(F.when(op == "D", key)).alias("deletes"),
    ).first()
    if batch["bad"] is not None:
        raise ValueError(
            f"apply_cdc_to_postings_store: op must be I/U/D, got {batch['bad']!r}"
        )
    if batch["rows"] != batch["keys"]:
        raise ValueError(
            f"apply_cdc_to_postings_store: batch must be unique on {id_col}"
        )
    n_del = (
        delete_from_postings_store(spark, root, ids=batch["deletes"])
        if batch["deletes"]
        else 0
    )
    if batch["upserts"]:
        upserts = cdc.filter(op.isin("I", "U")).select(
            key.alias("doc_id"), F.col(text_col).alias("text")
        )
        _ingest(upserts, root, "text", "doc_id")
    return {"upserted": batch["upserts"], "deleted": n_del}


def rebuild_postings_store(
    spark: SparkSession, root: str, *, n_buckets: int | None = None
) -> None:
    """Compaction: write the LIVE rows (tombstoned docs gone, every
    surviving row at generation 0) into a new version and commit it
    (the store.py rebuild: under the write lock, in-flight probes keep
    the version they resolved, a waiting writer retries on the new
    version). No re-tokenization: the rebuild reads postings/doclens,
    never document text. Pass ``n_buckets`` to re-bucket (e.g. after
    the vocabulary grew)."""

    def build(cur_dir: str, new_dir: str) -> None:
        meta = _read_meta(cur_dir)
        buckets = meta["n_buckets"] if n_buckets is None else n_buckets
        _write_version(
            new_dir, {**meta, "n_buckets": int(buckets)},
            _load_live(spark, cur_dir, _POSTINGS).select(*_posting_cols(meta)),
            _load_live(spark, cur_dir, _DOCLENS).select("doc_id", "dl"),
        )

    _rebuild(root, build)


def _build_positional_postings(
    docs: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """``(term, doc_id, tf, positions)`` with 1-based token positions
    sorted ascending. Same shuffle shape as build_postings (one row
    per distinct (term, doc) pair — the positions ride as an array
    payload, never as extra shuffle rows)."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks")
        )
        .select("doc_id", F.posexplode("toks").alias("pos0", "term"))
        .groupBy("term", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.array_sort(F.collect_list(F.col("pos0") + F.lit(1))).alias(
                "positions"
            ),
        )
    )


def build_positional_postings_store(
    docs: DataFrame,
    root: str,
    *,
    n_buckets: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Build variant that stores 1-based token POSITIONS per posting,
    enabling exact-phrase probes (:func:`postings_store_phrase`) —
    the phrase-level decontamination primitive (an eval question's
    exact wording, not just its vocabulary). Layout, pins, tombstones
    and lifecycle verbs are identical to the standard store;
    ``_meta.json`` records ``positions: true`` so appends keep the
    schema (append/delete/rebuild/vacuum work unchanged — the append
    path builds positional postings for the batch when the meta says
    so)."""
    _build(docs, root, n_buckets, text_col, id_col, positions=True)


def postings_store_phrase(
    spark: SparkSession,
    root: str,
    phrases: DataFrame,
    *,
    phrase_id_col: str = "phrase_id",
    phrase_text_col: str = "ptext",
) -> DataFrame:
    """Exact-phrase containment over a POSITIONAL store:
    ``(phrase_id, doc_id)`` for every live document whose token stream
    contains the phrase's token sequence CONTIGUOUSLY (the
    decontamination question: which corpus docs quote this eval item
    verbatim). Entirely integer/set arithmetic — no floats, so the
    oracle is exact.

    Plan shape: the phrase set is driver-bounded (broadcast); each
    phrase term joins its (bucket-pruned, vocabulary-pruned) postings
    row, positions are normalized by the term's offset within the
    phrase (pos − offset), and a document matches when the
    intersection of its per-term normalized position sets is
    non-empty AND every phrase term was present — one shuffle on
    (phrase, doc), candidate rows bounded by phrase-vocabulary
    postings. Phrases with repeated terms work (each offset is an
    independent row against the same posting). Empty/sub-token
    phrases yield no rows.

    Scale note (sf1 ledger, COVERAGE.md): candidate rows are
    Σ_term (phrase offsets of term × docs containing term) — linear in
    the phrase count when phrase terms are rare (the realistic Zipf
    case), but a corpus-sized term sneaks in when a phrase is built
    from stop-words (the fixture's 31-word vocabulary is exactly that
    worst case, measured 23.6× for 10× data). The 100 TB refinement if
    stop-wordy phrases matter: anchor each phrase on its rarest
    (min-df) term first, semi-join the other terms' postings against
    that candidate doc set, and only then intersect position sets —
    bounds candidates by the rarest term's df instead of the sum. Not
    implemented here because it adds two shuffles that LOSE on
    rare-term phrases, the common decontamination shape."""
    idx_dir = current_index_dir(root)
    meta = _read_meta(idx_dir)
    if not meta.get("positions"):
        raise ValueError(
            "postings_store_phrase: store was not built with positions "
            "(use build_positional_postings_store)"
        )
    n_buckets = int(meta["n_buckets"])
    pterms = phrases.select(
        F.col(phrase_id_col).alias("phrase_id"),
        F.posexplode(tokens(phrase_text_col)).alias("offset", "term"),
    )
    plens = pterms.groupBy("phrase_id").agg(
        F.count(F.lit(1)).alias("__plen")
    )
    pvocab = pterms.select("term").distinct()
    buckets = [
        r[0]
        for r in pvocab.select(
            _bucket_col("term", n_buckets).alias("b")
        ).distinct().collect()
    ]
    post = _load_live(spark, idx_dir, _POSTINGS)
    if buckets:
        post = post.filter(F.col("bucket").isin(buckets))
    rows = (
        post.select("term", "doc_id", "positions")
        .join(F.broadcast(pterms), "term")
        .select(
            "phrase_id",
            "doc_id",
            "offset",
            F.transform(
                "positions", lambda p: p - F.col("offset")
            ).alias("__norm"),
        )
    )
    grouped = rows.groupBy("phrase_id", "doc_id").agg(
        F.count(F.lit(1)).alias("__nterms"),
        F.collect_list("__norm").alias("__sets"),
    )
    anchored = grouped.join(F.broadcast(plens), "phrase_id").filter(
        F.col("__nterms") == F.col("__plen")
    )
    starts = F.aggregate(
        F.slice(F.col("__sets"), 2, F.greatest(F.size("__sets") - 1, F.lit(0))),
        F.element_at(F.col("__sets"), 1),
        lambda acc, s: F.array_intersect(acc, s),
    )
    return (
        anchored.filter(F.size(starts) > 0)
        .select("phrase_id", "doc_id")
        .orderBy("phrase_id", "doc_id")
    )
