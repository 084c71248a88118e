"""operators/postings_store.py — persisted incremental inverted index.

Mirrors test_ivf_store.py's generation cases on the lexical side: the
store's BM25 answers must equal retrieval.bm25_topk run from scratch
over the equivalent corpus state after every lifecycle verb (build,
edited-doc re-ingest, delete, re-ingest-after-delete resurrection,
rebuild compaction), plus hostile shapes (empty batch, delete-only
state, duplicate-id batch) and a concurrent-append hammer on the
store write lock.
"""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from python_openetl_spark.operators.postings_store import (
    append_to_postings_store,
    build_postings_store,
    current_index_dir,
    delete_from_postings_store,
    load_doc_lengths,
    load_postings,
    postings_store_topk,
    rebuild_postings_store,
)
from python_openetl_spark.operators.retrieval import bm25_topk

_DOCS = [
    (1, "apple banana cherry apple"),
    (2, "banana cherry date"),
    (3, "cherry date elder apple"),
    (4, "fig grape apple banana"),
    (5, "grape fig fig banana cherry"),
    (6, "apple apple apple banana"),
    (7, "date elder fig grape"),
    (8, "elder fig grape apple cherry date"),
]

_QUERIES = [(100, "apple banana"), (200, "fig grape"), (300, "cherry date")]


def _docs_df(spark, rows=None):
    return spark.createDataFrame(rows or _DOCS, "doc_id long, text string")


def _queries_df(spark):
    return spark.createDataFrame(_QUERIES, "query_id long, qtext string")


def _rows(df):
    return {
        (r["query_id"], r["doc_id"], r["score"], r["rank"])
        for r in df.collect()
    }


def _assert_matches_scratch(spark, root, corpus_rows):
    """Store answers == from-scratch bm25_topk over the given corpus."""
    got = _rows(postings_store_topk(spark, root, _queries_df(spark), k=3))
    want = _rows(
        bm25_topk(_docs_df(spark, corpus_rows), _queries_df(spark), k=3)
    )
    assert got == want


@pytest.fixture()
def root(spark, tmp_path):
    r = str(tmp_path / "postings")
    build_postings_store(_docs_df(spark), r, n_buckets=8)
    return r


def test_build_matches_scratch_bm25(spark, root):
    _assert_matches_scratch(spark, root, _DOCS)


def test_bucket_layout_prunes_and_seq_pinned_long(spark, root):
    idx = current_index_dir(root)
    buckets = [
        d for d in os.listdir(os.path.join(idx, "postings"))
        if d.startswith("bucket=")
    ]
    assert len(buckets) > 1  # really hive-partitioned by term bucket
    # pinned read schema: no footer inference, __seq pinned LONG
    import json

    with open(os.path.join(idx, "_schema.json")) as f:
        pins = json.load(f)
    seq_types = {
        f["type"]
        for key in ("postings", "doclens")
        for f in pins[key]["fields"]
        if f["name"] == "__seq"
    }
    assert seq_types == {"long"}
    assert [
        f["type"] for f in pins["deleted"]["fields"] if f["name"] == "seq"
    ] == ["long"]


def test_edited_reingest_replaces_stale_postings(spark, root):
    # doc 6 loses all 'apple' terms; doc 2 gains 'apple'
    batch = [(6, "banana banana zzz"), (2, "banana cherry date apple")]
    superseded = append_to_postings_store(_docs_df(spark, batch), root)
    assert superseded == 2
    new_corpus = [r for r in _DOCS if r[0] not in (2, 6)] + batch
    _assert_matches_scratch(spark, root, new_corpus)
    # df for 'apple' reflects replacement, not double-count
    df_apple = (
        load_postings(spark, root).filter(F.col("term") == "apple").count()
    )
    assert df_apple == len([r for r in new_corpus if "apple" in r[1]])


def test_pure_insert_batch_tombstones_nothing(spark, root):
    n = append_to_postings_store(
        _docs_df(spark, [(9, "hazel iris apple")]), root
    )
    assert n == 0
    _assert_matches_scratch(spark, root, _DOCS + [(9, "hazel iris apple")])


def test_delete_hides_doc_everywhere(spark, root):
    assert delete_from_postings_store(spark, root, ids=[1, 6]) == 2
    corpus = [r for r in _DOCS if r[0] not in (1, 6)]
    _assert_matches_scratch(spark, root, corpus)
    assert load_doc_lengths(spark, root).count() == len(corpus)
    # absent ids are a no-op, not an error
    assert delete_from_postings_store(spark, root, ids=[999]) == 0


def test_predicate_delete(spark, root):
    n = delete_from_postings_store(spark, root, where="doc_id % 2 = 0")
    assert n == 4
    _assert_matches_scratch(spark, root, [r for r in _DOCS if r[0] % 2])


def test_reingest_after_delete_resurrects(spark, root):
    delete_from_postings_store(spark, root, ids=[3])
    append_to_postings_store(_docs_df(spark, [(3, "quince rose")]), root)
    corpus = [r for r in _DOCS if r[0] != 3] + [(3, "quince rose")]
    _assert_matches_scratch(spark, root, corpus)


def test_edit_then_delete_hides_edited_generation(spark, root):
    append_to_postings_store(_docs_df(spark, [(5, "apple zzz")]), root)
    delete_from_postings_store(spark, root, ids=[5])
    _assert_matches_scratch(spark, root, [r for r in _DOCS if r[0] != 5])


def test_empty_batch_is_noop(spark, root):
    empty = _docs_df(spark).filter(F.lit(False))
    assert append_to_postings_store(empty, root) == 0
    _assert_matches_scratch(spark, root, _DOCS)


def test_duplicate_id_batch_raises(spark, root):
    with pytest.raises(ValueError, match="unique"):
        append_to_postings_store(
            _docs_df(spark, [(1, "a b"), (1, "c d")]), root
        )


def test_rebuild_compacts_and_answers_identically(spark, root):
    append_to_postings_store(_docs_df(spark, [(2, "kiwi lime apple")]), root)
    delete_from_postings_store(spark, root, ids=[7, 8])
    corpus = [r for r in _DOCS if r[0] not in (2, 7, 8)] + [
        (2, "kiwi lime apple")
    ]
    rebuild_postings_store(spark, root)
    idx = current_index_dir(root)
    assert idx.endswith("v00000002")
    # tombstones compacted away: no deleted dir, all rows generation 0
    assert not os.path.isdir(os.path.join(idx, "deleted"))
    _assert_matches_scratch(spark, root, corpus)
    # re-bucketing rebuild also answers identically
    rebuild_postings_store(spark, root, n_buckets=3)
    _assert_matches_scratch(spark, root, corpus)


def test_query_vocab_missing_from_corpus(spark, root):
    q = spark.createDataFrame(
        [(1, "zzz qqq")], "query_id long, qtext string"
    )
    assert postings_store_topk(spark, root, q, k=3).count() == 0


def test_concurrent_appends_all_land(spark, root):
    """The store-level write lock serializes whole appends: N threads
    appending disjoint batches must each take a distinct generation
    and lose no rows (the r12-advice FileOutputCommitter staging-dir
    hazard this lock exists to close)."""
    errs = []

    def worker(i):
        try:
            append_to_postings_store(
                _docs_df(spark, [(100 + i, f"tok{i} shared")]), root
            )
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    corpus = _DOCS + [(100 + i, f"tok{i} shared") for i in range(6)]
    assert load_doc_lengths(spark, root).count() == len(corpus)
    _assert_matches_scratch(spark, root, corpus)
    # distinct generations: doclens seq column has 6 distinct appends
    import json

    idx = current_index_dir(root)
    with open(os.path.join(idx, "_seq.json")) as f:
        assert json.load(f)["seq"] == 6


def test_probe_prunes_bucket_partitions(spark, root):
    """The scale contract: the probe's postings scan must carry a
    bucket IN-list PartitionFilter (only the query vocabulary's hive
    directories are read), and it must prune to fewer than all
    buckets for a narrow query — a refactor that demotes the literal
    IN-list to a join would silently read the whole index."""
    import re

    q = spark.createDataFrame(
        [(1, "apple banana")], "query_id long, qtext string"
    )
    out = postings_store_topk(spark, root, q, k=3)
    # formatted explain: the plain toString truncates scan detail lines
    plan = spark._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    m = re.search(
        r"PartitionFilters: \[bucket#\d+ (?:IN \(([^)]*)\)|= (\d+))\]", plan
    )
    assert m, "postings scan lost its bucket partition filter"
    pruned = len((m.group(1) or m.group(2)).split(","))
    assert pruned < 8  # narrower than the store's 8 buckets


def test_shared_vacuum_prunes_superseded_versions(spark, root):
    """vacuum_ivf_store works UNCHANGED on the postings layout (the
    shared version-dir + _current.json contract): after two rebuilds,
    keep_last=1 prunes the superseded version dirs, the live version
    survives, and answers are unchanged."""
    from python_openetl_spark.operators.ivf_store import vacuum_ivf_store

    rebuild_postings_store(spark, root)
    rebuild_postings_store(spark, root)
    removed = vacuum_ivf_store(root, keep_last=1)
    assert removed == [1, 2]
    import os as _os

    assert sorted(
        d for d in _os.listdir(root) if d.startswith("v")
    ) == ["v00000003"]
    _assert_matches_scratch(spark, root, _DOCS)


class TestPhraseStore:
    """Positional variant + exact-phrase probe."""

    @pytest.fixture()
    def proot(self, spark, tmp_path):
        from python_openetl_spark.operators.postings_store import (
            build_positional_postings_store,
        )

        r = str(tmp_path / "positional")
        build_positional_postings_store(
            _docs_df(
                spark,
                [
                    (1, "the quick brown fox jumps"),
                    (2, "quick brown dog"),
                    (3, "the quick quick brown fox"),
                    (4, "brown quick the"),
                    (5, "fox fox fox"),
                ],
            ),
            r,
            n_buckets=4,
        )
        return r

    def _phrases(self, spark, rows):
        return spark.createDataFrame(rows, "phrase_id long, ptext string")

    def _hits(self, spark, proot, rows):
        from python_openetl_spark.operators.postings_store import (
            postings_store_phrase,
        )

        return sorted(
            (r["phrase_id"], r["doc_id"])
            for r in postings_store_phrase(
                spark, proot, self._phrases(spark, rows)
            ).collect()
        )

    def test_contiguity_order_and_repeats(self, spark, proot):
        got = self._hits(
            spark,
            proot,
            [
                (10, "quick brown fox"),  # 3's 'quick quick brown fox' matches
                (11, "quick brown"),
                (12, "fox fox"),          # repeated-term phrase
                (13, "brown fox jumps"),  # through to doc end
                (14, "the quick"),        # from doc start
                (15, "brown the quick"),  # right words, wrong order
                (16, "missing phrase"),
            ],
        )
        assert got == [
            (10, 1), (10, 3), (11, 1), (11, 2), (11, 3),
            (12, 5), (13, 1), (14, 1), (14, 3),
        ]

    def test_single_token_and_empty_phrase(self, spark, proot):
        assert self._hits(spark, proot, [(1, "dog"), (2, ""), (3, None)]) == [
            (1, 2)
        ]

    def test_lifecycle_preserves_positions(self, spark, proot):
        # edited re-ingest replaces positions; delete hides; rebuild keeps
        append_to_postings_store(
            _docs_df(spark, [(2, "now quick brown fox here")]), proot
        )
        delete_from_postings_store(spark, proot, ids=[1])
        assert self._hits(spark, proot, [(10, "quick brown fox")]) == [
            (10, 2), (10, 3),
        ]
        rebuild_postings_store(spark, proot)
        assert self._hits(spark, proot, [(10, "quick brown fox")]) == [
            (10, 2), (10, 3),
        ]

    def test_non_positional_store_raises(self, spark, root):
        from python_openetl_spark.operators.postings_store import (
            postings_store_phrase,
        )

        with pytest.raises(ValueError, match="positions"):
            postings_store_phrase(
                spark, root, self._phrases(spark, [(1, "apple banana")])
            )

    def test_bm25_probe_works_on_positional_store(self, spark, proot):
        got = postings_store_topk(
            spark, proot, self._phrases_as_queries(spark), k=3
        )
        assert got.count() > 0

    @staticmethod
    def _phrases_as_queries(spark):
        return spark.createDataFrame(
            [(1, "quick fox"), (2, "brown dog")],
            "query_id long, qtext string",
        )


def test_append_writes_batch_before_tombstones(spark, root):
    """r13 advice (medium): insert-then-tombstone order. The batch's
    rows land at the bumped generation and the superseding tombstones
    commit LAST, scoped one below it — so every tombstone seq is
    strictly less than the new rows' __seq, and a crash between the
    two writes can only leave duplicate (repairable) state, never a
    silent deletion."""
    append_to_postings_store(_docs_df(spark, [(1, "apple kiwi")]), root)
    idx = current_index_dir(root)
    tombs = spark.read.parquet(os.path.join(idx, "deleted"))
    batch_seq = (
        spark.read.parquet(os.path.join(idx, "doclens"))
        .filter(F.col("doc_id") == 1)
        .agg(F.max("__seq"))
        .first()[0]
    )
    max_tomb = tombs.agg(F.max("seq")).first()[0]
    assert max_tomb == batch_seq - 1
    _assert_matches_scratch(
        spark, root, [r for r in _DOCS if r[0] != 1] + [(1, "apple kiwi")]
    )


def test_crashed_append_repairs_by_rerunning(spark, root):
    """The crash window's documented repair: simulate a crash AFTER the
    batch's generation landed but BEFORE its tombstones committed (the
    only loss window the insert-first order leaves) by deleting the
    tombstone files, then re-run the same append. The retry tombstones
    every stale generation below its own rows, restoring the exact
    store state."""
    import shutil

    batch = [(1, "apple kiwi")]
    append_to_postings_store(_docs_df(spark, batch), root)
    idx = current_index_dir(root)
    shutil.rmtree(os.path.join(idx, "deleted"))  # "crash": tombstones lost
    # duplicate state is now LIVE (doc 1 twice) — detectable, not silent
    assert (
        load_doc_lengths(spark, root).filter(F.col("doc_id") == 1).count()
        == 2
    )
    append_to_postings_store(_docs_df(spark, batch), root)  # the repair
    _assert_matches_scratch(
        spark, root, [r for r in _DOCS if r[0] != 1] + batch
    )


def test_writer_waiting_out_a_rebuild_retries_on_new_version(spark, root):
    """r13 advice: rebuild holds the store write lock, and a writer
    that waited it out must NOT write into the superseded version dir
    (rows silently absent from the new version, deleted by the next
    vacuum). The append blocks on v1's lock while a rebuild commits
    v2; on acquiring it re-checks the pointer and retries on v2."""
    v1 = current_index_dir(root)
    lock = os.path.join(v1, "_write.lock")
    fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    os.close(fd)  # main thread poses as the rebuild holding v1's lock
    done = threading.Event()

    def blocked_append():
        append_to_postings_store(_docs_df(spark, [(99, "zebra apple")]), root)
        done.set()

    t = threading.Thread(target=blocked_append)
    t.start()
    try:
        # writer is parked on v1's lock; commit a rebuild into v2 the
        # way rebuild_postings_store would (bypassing its lock, which
        # we hold to stage the race)
        from python_openetl_spark.operators.postings_store import (
            _load_live,
            _read_meta,
            _write_generation,
            _write_meta,
        )
        from python_openetl_spark.operators.store import (
            _commit_version,
            _version_dir,
        )

        meta = _read_meta(v1)
        post = _load_live(spark, v1, "postings").select(
            "term", "doc_id", "tf"
        )
        dl = _load_live(spark, v1, "doclens").select(
            "doc_id", "dl"
        )
        new_dir = _version_dir(root, 2)
        os.makedirs(new_dir)
        _write_meta(new_dir, meta)
        _write_generation(new_dir, post, dl, 0, meta["n_buckets"], "errorifexists")
        _commit_version(root, 2)
        assert not done.is_set()  # still parked on v1's lock
    finally:
        os.unlink(lock)  # "rebuild" releases
    t.join(timeout=120)
    assert done.is_set()
    # the batch landed in the LIVE version, not the superseded one
    assert current_index_dir(root).endswith("v00000002")
    assert (
        load_doc_lengths(spark, root).filter(F.col("doc_id") == 99).count()
        == 1
    )
    _assert_matches_scratch(spark, root, _DOCS + [(99, "zebra apple")])


def test_rebuild_replaces_a_crashed_rebuilds_leftover_version(spark, root):
    """A rebuild that crashed after writing part of v{N+1} leaves a
    directory no pointer names; the next rebuild replaces it instead of
    failing on the existing path, and the live rows are unchanged."""
    delete_from_postings_store(spark, root, ids=[4])
    part = os.path.join(root, "v00000002", "postings", "bucket=0")
    os.makedirs(part)
    leftover = os.path.join(part, "part-crashed.parquet")
    with open(leftover, "wb") as fh:
        fh.write(b"partial")
    rebuild_postings_store(spark, root)
    assert current_index_dir(root).endswith("v00000002")
    assert not os.path.exists(leftover)
    _assert_matches_scratch(spark, root, [r for r in _DOCS if r[0] != 4])


def test_postings_snapshot_resolves_version_once(spark, root):
    """r13 advice: the snapshot entry point pins ONE version for both
    frames — after a rebuild commits, frames from an old snapshot
    still read the superseded dir (consistently), while a new snapshot
    reads the new version."""
    from python_openetl_spark.operators.postings_store import (
        postings_snapshot,
    )

    old_post, old_dl = postings_snapshot(spark, root)
    n_post, n_dl = old_post.count(), old_dl.count()
    rebuild_postings_store(spark, root)
    append_to_postings_store(_docs_df(spark, [(50, "new doc here")]), root)
    # the pinned snapshot is unaffected by the rebuild + append
    assert old_post.count() == n_post and old_dl.count() == n_dl
    new_post, new_dl = postings_snapshot(spark, root)
    assert new_dl.count() == n_dl + 1
    assert new_post.count() > n_post


def test_snapshot_includes_positions_on_positional_store(spark, tmp_path):
    from python_openetl_spark.operators.postings_store import (
        build_positional_postings_store,
        postings_snapshot,
    )

    r = str(tmp_path / "pos_snap")
    build_positional_postings_store(
        _docs_df(spark, [(1, "a b a")]), r, n_buckets=4
    )
    post, dl = postings_snapshot(spark, r)
    assert "positions" in post.columns
    assert dl.columns == ["doc_id", "dl"]


def test_lock_timeout_env_knob(spark, root, monkeypatch):
    """r13 advice: the 120 s writer-lock timeout is an env knob
    (SPARK_GRAFT_STORE_LOCK_TIMEOUT), so deployments whose healthy
    appends run longer can size it — and tests can shrink it."""
    monkeypatch.setenv("SPARK_GRAFT_STORE_LOCK_TIMEOUT", "0.2")
    idx = current_index_dir(root)
    lock = os.path.join(idx, "_write.lock")
    fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    os.close(fd)
    try:
        import time

        t0 = time.monotonic()
        with pytest.raises(RuntimeError, match="lock held too long"):
            append_to_postings_store(_docs_df(spark, [(60, "x y")]), root)
        assert time.monotonic() - t0 < 5  # honored 0.2s, not 120s
    finally:
        os.unlink(lock)


def test_suggest_buckets_rule():
    from python_openetl_spark.operators.postings_store import suggest_buckets

    assert suggest_buckets(0) == 8
    assert suggest_buckets(31) == 8          # tiny vocab: floor
    assert suggest_buckets(10_000) == 128    # ~sqrt(V), next pow2
    assert suggest_buckets(1_000_000) == 1024
    assert suggest_buckets(10**12) == 4096   # files-per-generation cap
    assert suggest_buckets(300, max_buckets=16) == 16


def test_rebuild_with_suggested_buckets_improves_pruning(spark, tmp_path):
    """The geometry story suggest_buckets encodes, end to end: at a
    planted 10k-term vocabulary a 40-term probe saturates an 8-bucket
    layout (reads ALL directories — zero pruning), and a rebuild with
    suggest_buckets(V)=128 makes the same probe read at most 40 of 128
    directories — the pruned-directory fraction drops from 0 to >2/3."""
    import re

    from python_openetl_spark.operators.postings_store import suggest_buckets

    # 250 docs x 40 unique terms = 10k distinct terms
    docs = [
        (i, " ".join(f"t{i:03d}x{j:02d}" for j in range(40)))
        for i in range(250)
    ]
    r = str(tmp_path / "bigvocab")
    build_postings_store(
        _docs_df(spark, docs), r, n_buckets=8
    )
    q = spark.createDataFrame(
        [(1, docs[7][1])], "query_id long, qtext string"
    )

    def dirs_read(plan_df):
        plan = spark._jvm.PythonSQLUtils.explainString(
            plan_df._jdf.queryExecution(), "formatted"
        )
        # past spark.sql.optimizer.inSetConversionThreshold (10) the
        # literal IN compiles to INSET — same partition pruning
        m = re.search(
            r"PartitionFilters: \[bucket#\d+ "
            r"(?:IN \(([^)]*)\)|INSET ([^\]]*)|= (\d+))\]",
            plan,
        )
        assert m, "postings scan lost its bucket partition filter"
        vals = m.group(1) or m.group(2) or m.group(3)
        return len(vals.split(","))

    before = dirs_read(postings_store_topk(spark, r, q, k=3))
    assert before == 8  # 40 terms saturate 8 buckets: no pruning left
    nb = suggest_buckets(10_000)
    assert nb == 128
    rebuild_postings_store(spark, r, n_buckets=nb)
    after = dirs_read(postings_store_topk(spark, r, q, k=3))
    assert after <= 40  # at most one directory per query term
    assert after / nb < 1 / 3  # fraction of the index read collapsed
    # and answers are unchanged by the re-bucketing
    got = _rows(postings_store_topk(spark, r, q, k=3))
    want = _rows(bm25_topk(_docs_df(spark, docs), q, k=3))
    assert got == want


class TestApplyCdc:
    """apply_cdc_to_postings_store — one-batch I/U/D maintenance."""

    def _cdc(self, spark, rows):
        return spark.createDataFrame(
            rows, "op string, doc_id long, text string"
        )

    def test_all_op_classes_resolve(self, spark, root):
        from python_openetl_spark.operators.postings_store import (
            apply_cdc_to_postings_store,
        )

        out = apply_cdc_to_postings_store(
            self._cdc(
                spark,
                [
                    ("D", 2, None),              # delete live doc
                    ("U", 1, "apple kiwi"),      # replace live doc
                    ("I", 99, "zebra apple"),    # fresh insert
                    ("D", 777, None),            # absent-id delete: no-op
                ],
            ),
            root,
        )
        assert out == {"upserted": 2, "deleted": 1}
        corpus = [r for r in _DOCS if r[0] not in (1, 2)] + [
            (1, "apple kiwi"),
            (99, "zebra apple"),
        ]
        _assert_matches_scratch(spark, root, corpus)

    def test_bad_op_raises(self, spark, root):
        from python_openetl_spark.operators.postings_store import (
            apply_cdc_to_postings_store,
        )

        with pytest.raises(ValueError, match="op must be I/U/D"):
            apply_cdc_to_postings_store(
                self._cdc(spark, [("X", 1, "boom")]), root
            )

    def test_duplicate_key_raises(self, spark, root):
        from python_openetl_spark.operators.postings_store import (
            apply_cdc_to_postings_store,
        )

        with pytest.raises(ValueError, match="unique on doc_id"):
            apply_cdc_to_postings_store(
                self._cdc(spark, [("D", 1, None), ("U", 1, "again")]), root
            )
        with pytest.raises(ValueError, match="unique on doc_id"):
            apply_cdc_to_postings_store(
                self._cdc(spark, [("D", None, None), ("U", None, "x")]), root
            )

    def test_empty_batch_is_noop(self, spark, root):
        from python_openetl_spark.operators.postings_store import (
            apply_cdc_to_postings_store,
        )

        out = apply_cdc_to_postings_store(self._cdc(spark, []), root)
        assert out == {"upserted": 0, "deleted": 0}
        _assert_matches_scratch(spark, root, _DOCS)
