"""The closed-loop workloads: seeded inputs, the timed ops, and output
checks that run outside the timed window without Spark (pyarrow, numpy
and DuckDB only).

A workload is driven by one client. Each timed op is a write op and
``reads`` read ops right after it; the next op starts only when the
previous one returned. ``prepare`` and ``prepare_read`` make the inputs
before the clock starts, ``write``/``read`` are timed, and
``check_write``/``check_read`` run after the clock stops and raise
:class:`CheckFailed` on a wrong output.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq


class CheckFailed(Exception):
    """An op returned, but its output is wrong."""


def _require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def tree_files(root: str) -> dict[str, int]:
    """``{path: bytes}`` of every file under ``root``."""
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            p = os.path.join(dirpath, name)
            out[p] = os.path.getsize(p)
    return out


def parquet_bytes(table: pa.Table, path: str) -> int:
    """Size of ``table`` written alone as one parquet file (the
    denominator of write amplification)."""
    pq.write_table(table, path)
    n = os.path.getsize(path)
    os.remove(path)
    return n


def _write_input(table: pa.Table, path: str, parts: int = 4) -> None:
    """Write an input table as ``parts`` files so Spark scans it in
    parallel, the way a real upstream export lands."""
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))


class Ctx:
    """What the ops share: the session, the tracer, the engine modules and
    the run's scratch directory."""

    def __init__(self, spark, tracer, scratch: str, seed: int):
        from python_openetl_spark.operators import cluster, dedup, ivf_store
        from python_openetl_spark.plans import pipelines
        from python_openetl_spark.sources import registry

        self.spark, self.tracer, self.scratch = spark, tracer, scratch
        self.rng = np.random.default_rng(seed)
        self.pipelines, self.registry = pipelines, registry
        self.dedup, self.cluster, self.ivf_store = dedup, cluster, ivf_store
        self.op: int | None = None  # index of the timed op, None outside them

    def span(self, name: str):
        return self.tracer.span(name, self.op)

    def read_source(self, path: str):
        with self.span("sources.read"):
            return self.registry.read(self.spark, {"format": "parquet", "path": path})


# --------------------------------------------------------------------------
# sync_cycles: the reference's Update pipeline, one upsert_sync per cycle.

_HOUR_US = 3_600_000_000
_BASE_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z
_CATEGORIES = pa.array([f"cat_{i:02d}" for i in range(16)])


class SyncCycles:
    """Seed a table from an upstream snapshot once; then each cycle the
    upstream changes (1% of rows updated, 0.1% inserted, 0.1% deleted,
    all inside a 1-hour window) and ``upsert_sync`` reconciles the
    published table with it. A read op is a 100-key point lookup plus
    one delta-window aggregate on the published table; each timed cycle
    makes two, with different keys."""

    name = "sync_cycles"
    rows = 30_000
    warmup = 5
    reads = 2
    nominal_op_s = 2.5

    def setup(self, ctx: Ctx) -> None:
        rng, n = ctx.rng, self.rows
        self.cols = {
            "id": np.arange(n, dtype=np.int64),
            "category": rng.integers(0, len(_CATEGORIES), n),
            "amount": np.round(rng.uniform(1, 1000, n), 2),
            "qty": rng.integers(1, 100, n).astype(np.int32),
            "updated_at": _BASE_US - rng.integers(2 * _HOUR_US, 720 * _HOUR_US, n),
        }
        self.next_id, self.cycle = n, 0
        self.root = os.path.join(ctx.scratch, "sync")
        self.table = ctx.pipelines.ParquetTable(os.path.join(self.root, "published"))
        self.expected = self.hit = self.returned = self.correct = 0
        self.read_hit = self.read_expected = 0
        self.before: dict[str, int] = {}
        snap = self._write_snapshot()
        src = ctx.read_source(snap)
        with ctx.span("pipelines.seed"):
            ctx.pipelines.seed(src, self.table)
        self.check_write(ctx, None)

    def _arrow(self, idx=None) -> pa.Table:
        c = self.cols if idx is None else {k: v[idx] for k, v in self.cols.items()}
        return pa.table(
            {
                "id": c["id"],
                "category": pc.take(_CATEGORIES, pa.array(c["category"])),
                "amount": c["amount"],
                "qty": c["qty"],
                "updated_at": pa.array(c["updated_at"], pa.timestamp("us", tz="UTC")),
            }
        )

    def _write_snapshot(self) -> str:
        self.snapshot = self._arrow()
        path = os.path.join(self.root, "upstream", f"c{self.cycle:04d}")
        _write_input(self.snapshot, path)
        return path

    def _anchor(self) -> str:
        secs = (_BASE_US + self.cycle * _HOUR_US) // 1_000_000
        return str(np.datetime64(secs, "s")).replace("T", " ")

    def prepare(self, ctx: Ctx) -> None:
        rng, c = ctx.rng, self.cols
        self.cycle += 1
        anchor_us = _BASE_US + self.cycle * _HOUR_US
        live = len(c["id"])
        n_upd, n_ins, n_del = live // 100, live // 1000, live // 1000
        pick = rng.choice(live, n_upd + n_del, replace=False)
        upd, dele = pick[:n_upd], pick[n_upd:]
        c["amount"][upd] = np.round(rng.uniform(1, 1000, n_upd), 2)
        c["qty"][upd] = rng.integers(1, 100, n_upd)
        c["updated_at"][upd] = anchor_us - rng.integers(1, _HOUR_US, n_upd)
        keep = np.ones(live, dtype=bool)
        keep[dele] = False
        new = {
            "id": np.arange(self.next_id, self.next_id + n_ins, dtype=np.int64),
            "category": rng.integers(0, len(_CATEGORIES), n_ins),
            "amount": np.round(rng.uniform(1, 1000, n_ins), 2),
            "qty": rng.integers(1, 100, n_ins).astype(np.int32),
            "updated_at": anchor_us - rng.integers(1, _HOUR_US, n_ins),
        }
        self.next_id += n_ins
        changed = np.zeros(live, dtype=bool)
        changed[upd] = True
        for k in c:
            c[k] = np.concatenate([c[k][keep], new[k]])
        changed = np.concatenate([changed[keep], np.ones(n_ins, dtype=bool)])
        self.changed_rows = n_upd + n_ins + n_del
        self.op_rows = len(c["id"])
        self.changed_bytes = parquet_bytes(
            self._arrow(np.flatnonzero(changed)), os.path.join(self.root, "changed.parquet")
        )
        self.snap_path = self._write_snapshot()
        self.before = tree_files(self.table.path)

    def prepare_read(self, ctx: Ctx) -> None:
        self.keys = ctx.rng.integers(0, self.next_id, 100)

    def write(self, ctx: Ctx) -> None:
        src = ctx.read_source(self.snap_path)
        with ctx.span("pipelines.upsert_sync"):
            ctx.pipelines.upsert_sync(
                ctx.spark, src, self.table, pk="id", ts_col="updated_at", anchor=self._anchor()
            )

    def check_write(self, ctx: Ctx, _result) -> dict:
        """The published table equals the snapshot: same row count and the
        same order-insensitive hash over all columns. Recall and
        precision count the rows that differ."""
        con = duckdb.connect()
        con.register("expected", self.snapshot)
        glob = os.path.join(self.table.path, "*.parquet").replace("'", "''")
        con.execute(f"create view published as select * from read_parquet('{glob}')")
        proj = "id, category, amount, cast(qty as bigint) qty, epoch_us(updated_at) ts"
        digest = "select count(*), sum(hash(id, category, amount, qty, ts)) from (select {} from {})"
        exp = con.execute(digest.format(proj, "expected")).fetchone()
        got = con.execute(digest.format(proj, "published")).fetchone()
        missing, extra = con.execute(
            f"select (select count(*) from (select {proj} from expected except all"
            f" select {proj} from published)),"
            f" (select count(*) from (select {proj} from published except all"
            f" select {proj} from expected))"
        ).fetchone()
        con.close()
        self.expected += exp[0]
        self.hit += exp[0] - missing
        self.returned += got[0]
        self.correct += got[0] - extra
        _require(exp == got, f"published table differs from snapshot: {got} != {exp}")
        after = tree_files(self.table.path)
        return {"new_bytes": sum(n for p, n in after.items() if p not in self.before)}

    def quality(self) -> tuple[float, float]:
        return self.hit / self.expected, self.correct / max(1, self.returned)

    def read_recall(self) -> float:
        return self.read_hit / self.read_expected

    def read(self, ctx: Ctx):
        from pyspark.sql import functions as F

        with ctx.span("pipelines.table_read"):
            t = self.table.read(ctx.spark)
            rows = (
                t.filter(F.col("id").isin([int(k) for k in self.keys]))
                .select("id", "category", "amount", "qty", F.unix_micros("updated_at"))
                .collect()
            )
            since = F.lit(self._anchor()).cast("timestamp") - F.expr("INTERVAL 1 HOURS")
            agg = t.filter(F.col("updated_at") >= since).agg(F.count("*"), F.sum("amount")).first()
        return rows, agg

    def check_read(self, ctx: Ctx, result) -> None:
        rows, (n, total) = result
        snap = self.snapshot
        hit = snap.filter(pc.is_in(snap["id"], pa.array(self.keys)))
        expected = sorted(
            zip(
                hit["id"].to_pylist(),
                hit["category"].to_pylist(),
                hit["amount"].to_pylist(),
                hit["qty"].to_pylist(),
                pc.cast(hit["updated_at"], pa.int64()).to_pylist(),
            )
        )
        got = sorted(tuple(r) for r in rows)
        self.read_hit += len(set(got) & set(expected))
        self.read_expected += len(expected)
        _require(got == expected, "point lookup rows differ")
        since = self.cycle * _HOUR_US + _BASE_US - _HOUR_US
        mask = pc.greater_equal(pc.cast(snap["updated_at"], pa.int64()), since)
        exp_n = pc.sum(mask.cast(pa.int64())).as_py()
        exp_total = pc.sum(snap.filter(mask)["amount"]).as_py()
        _require(n == exp_n, f"window count {n} != {exp_n}")
        _require(
            exp_n == 0 or abs(total - exp_total) <= 1e-9 * abs(exp_total),
            f"window sum {total} != {exp_total}",
        )


# --------------------------------------------------------------------------
# corpus_dedup: near-dup removal on fresh LLM-corpus shards, whose kept
# documents are indexed in a persisted IVF store that serves probes.

_VOCAB = 30_000
_DIM = 64
#: First id of the store's background vectors, far above any doc_id.
_BACKGROUND_ID = 1 << 40


def _vec_column(vecs: np.ndarray) -> pa.Array:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    return pa.FixedSizeListArray.from_arrays(flat, _DIM).cast(pa.list_(pa.float32()))


class CorpusDedup:
    """Each op takes a fresh shard of Zipf-worded documents, 10% of which
    are planted near-duplicates (clusters of 2-4 copies, 3% of words
    edited). Every document carries a 64-float embedding; a copy's is
    its original's, moved slightly. The write op runs MinHash-LSH
    candidates, canonicalizes the shard, publishes the kept documents
    with ``seed`` and appends their embeddings to a persisted IVF store.
    A read op probes the store with 64 queries at k=10, nprobe 2,
    including the collect; each timed op makes two, with different
    queries.

    The store is built during set-up from 5,000 background vectors
    (nlist 64). Embeddings are drawn around 256 centres with a spread
    that puts recall@10 near 0.8, so a lossy shortcut shows in
    ``read_recall``. Each append adds a file to every cell it touches,
    so probes slow as the store grows; every run makes the same op
    sequence."""

    name = "corpus_dedup"
    docs = 1_000
    background = 5_000
    queries, k, nprobe, nlist = 64, 10, 2, 64
    centers, spread = 256, 0.8
    warmup = 2
    reads = 2
    nominal_op_s = 8.0

    def _draw(self, rng, n: int) -> np.ndarray:
        which = rng.integers(0, self.centers, n)
        noise = rng.standard_normal((n, _DIM)) * (self.spread / np.sqrt(_DIM))
        return (self.means[which] + noise).astype(np.float32)

    def setup(self, ctx: Ctx) -> None:
        rng = ctx.rng
        self.root = os.path.join(ctx.scratch, "dedup")
        self.store = os.path.join(self.root, "store")
        p = 1.0 / np.arange(1, _VOCAB + 1) ** 1.07
        self.word_p = p / p.sum()
        self.words = np.array([f"w{i:x}" for i in range(_VOCAB)], dtype=object)
        means = rng.standard_normal((self.centers, _DIM))
        self.means = means / np.linalg.norm(means, axis=1, keepdims=True)
        # what the store should hold, for the exact-search check
        self.ids = _BACKGROUND_ID + np.arange(self.background, dtype=np.int64)
        self.vecs = self._draw(rng, self.background)
        path = os.path.join(self.root, "in", "background")
        _write_input(pa.table({"doc_id": self.ids, "embedding": _vec_column(self.vecs)}), path)
        corpus = ctx.read_source(path)
        with ctx.span("ivf_store.build_ivf_store"):
            ctx.ivf_store.build_ivf_store(corpus, self.store, nlist=self.nlist, id_col="doc_id")
        self.shard = 0
        self.tp = self.planted_total = self.removed_total = 0
        self.hits = self.expected = 0

    def prepare(self, ctx: Ctx) -> None:
        rng, d = ctx.rng, self.docs
        # plant clusters (original + 1..3 edited copies) until ~10% of the
        # shard are copies
        clusters, copies = [], 0
        while copies < d // 10:
            size = int(rng.integers(2, 5))
            clusters.append(size)
            copies += size - 1
        originals = d - copies
        lengths = rng.integers(90, 151, originals)
        toks = rng.choice(_VOCAB, int(lengths.sum()), p=self.word_p)
        docs = np.split(toks, np.cumsum(lengths)[:-1])
        vecs = list(self._draw(rng, originals))
        members = []
        for ci, size in enumerate(clusters):
            base = docs[ci]
            group = [ci]
            for _ in range(size - 1):
                copy = base.copy()
                edits = max(1, round(0.03 * len(copy)))
                at = rng.choice(len(copy), edits, replace=False)
                copy[at] = rng.choice(_VOCAB, edits, p=self.word_p)
                group.append(len(docs))
                docs.append(copy)
                vecs.append(vecs[ci] + (0.01 * rng.standard_normal(_DIM)).astype(np.float32))
            members.append(group)
        self.first_id = self.shard * d
        ids = rng.permutation(d).astype(np.int64) + self.first_id
        text = [" ".join(self.words[t]) for t in docs]
        # a planted duplicate is every cluster member but the one
        # canonicalize_corpus keeps (the minimum id)
        self.planted = set()
        self.planted_pairs = 0
        for group in members:
            gids = sorted(int(ids[i]) for i in group)
            self.planted.update(gids[1:])
            self.planted_pairs += len(gids) * (len(gids) - 1) // 2
        self.doc_ids, self.doc_vecs = ids, np.stack(vecs)
        self.input = pa.table({"doc_id": ids, "text": text, "embedding": _vec_column(self.doc_vecs)})
        self.src_path = os.path.join(self.root, "in", f"s{self.shard:04d}")
        _write_input(self.input, self.src_path)
        kept = pc.invert(pc.is_in(self.input["doc_id"], pa.array(sorted(self.planted), pa.int64())))
        self.changed_bytes = parquet_bytes(
            self.input.filter(kept), os.path.join(self.root, "kept.parquet")
        )
        self.dest = os.path.join(self.root, "out", f"s{self.shard:04d}")
        self.op_rows = d
        self.shard += 1
        self.before = tree_files(self.store)

    def prepare_read(self, ctx: Ctx) -> None:
        self.qvecs = self._draw(ctx.rng, self.queries)
        self.qids = -1 - np.arange(self.queries, dtype=np.int64)  # never a doc_id

    def write(self, ctx: Ctx):
        df = ctx.read_source(self.src_path)
        with ctx.span("dedup.minhash_lsh_candidates"):
            pairs = ctx.dedup.minhash_lsh_candidates(df, "text", "doc_id")
        with ctx.span("cluster.canonicalize_corpus"):
            kept = ctx.cluster.canonicalize_corpus(df, pairs, "doc_id")
        with ctx.span("pipelines.seed"):
            ctx.pipelines.seed(kept, self.dest)
        published = ctx.read_source(self.dest).select("doc_id", "embedding")
        with ctx.span("ivf_store.append_to_ivf_store"):
            ctx.ivf_store.append_to_ivf_store(published, self.store, id_col="doc_id")
        self.pairs = pairs

    def candidates_per_planted_pair(self) -> float:
        """Candidate pairs of the last op per planted duplicate pair. It
        costs extra Spark jobs, so only the traced run asks, outside the
        timed op."""
        return self.pairs.count() / self.planted_pairs

    def check_write(self, ctx: Ctx, _result) -> dict:
        """Published docs are input docs, unchanged and unique, and the
        store's live version holds the background plus every published
        doc. Recall and precision of the removed set are scored against
        the planted clusters."""
        out = pq.read_table(self.dest, columns=["doc_id", "text"])
        con = duckdb.connect()
        con.register("inp", self.input)
        con.register("outp", out)
        n_out, n_ids, unknown = con.execute(
            "select count(*), count(distinct doc_id),"
            " (select count(*) from (select doc_id, text from outp"
            "  except all select doc_id, text from inp)) from outp"
        ).fetchone()
        con.close()
        _require(n_out == n_ids, "published shard repeats a doc_id")
        _require(unknown == 0, f"{unknown} published docs are not input docs")
        published = out["doc_id"].to_numpy()
        removed = set(self.doc_ids.tolist()) - set(published.tolist())
        tp = len(removed & self.planted)
        self.tp += tp
        self.planted_total += len(self.planted)
        self.removed_total += len(removed)
        # doc ids are first_id + a permutation of range(docs)
        rows = np.argsort(self.doc_ids)[published - self.first_id]
        self.ids = np.concatenate([self.ids, published])
        self.vecs = np.concatenate([self.vecs, self.doc_vecs[rows]])
        live = os.path.join(ctx.ivf_store.current_index_dir(self.store), "assigned")
        got = ds.dataset(live, format="parquet", partitioning="hive").to_table(columns=["doc_id"])
        stored = np.sort(got["doc_id"].to_numpy())
        _require(np.array_equal(stored, np.sort(self.ids)), "store ids differ from background + published")
        after = tree_files(self.store)
        new = sum(n for p, n in after.items() if p not in self.before)
        return {"new_bytes": new + sum(tree_files(self.dest).values())}

    def read(self, ctx: Ctx):
        import pandas as pd

        queries = pd.DataFrame({"query_id": self.qids, "embedding": list(self.qvecs)})
        with ctx.span("ivf_store.ivf_store_topk"):
            return ctx.ivf_store.ivf_store_topk(
                ctx.spark, self.store, queries, k=self.k, nprobe=self.nprobe, id_col="doc_id"
            ).toPandas()

    def check_read(self, ctx: Ctx, got) -> None:
        """Scores recall@k against exact cosine search over what the store
        should hold; every query gets k ranked results of stored ids whose
        scores are the true cosines."""
        xn = self.vecs.astype(np.float64)
        xn /= np.linalg.norm(xn, axis=1, keepdims=True)
        qn = self.qvecs.astype(np.float64)
        qn /= np.linalg.norm(qn, axis=1, keepdims=True)
        sims = qn @ xn.T
        top = np.argpartition(-sims, self.k, axis=1)[:, : self.k]
        order = np.argsort(self.ids)
        for qi, qid in enumerate(self.qids):
            res = got[got["query_id"] == qid].sort_values("rank")
            _require(list(res["rank"]) == list(range(1, self.k + 1)), f"query {qid}: ranks {list(res['rank'])}")
            ids = res["doc_id"].to_numpy()
            at = np.minimum(np.searchsorted(self.ids[order], ids), len(order) - 1)
            rows = order[at]
            _require(np.array_equal(self.ids[rows], ids), f"query {qid}: returned ids not in the store")
            _require(np.allclose(res["cos_sim"], sims[qi, rows], atol=1e-6), f"query {qid}: wrong scores")
            self.hits += len(set(rows.tolist()) & set(top[qi].tolist()))
            self.expected += self.k

    def quality(self) -> tuple[float, float]:
        return self.tp / self.planted_total, self.tp / max(1, self.removed_total)

    def read_recall(self) -> float:
        return self.hits / self.expected


WORKLOADS = {w.name: w for w in (SyncCycles, CorpusDedup)}
