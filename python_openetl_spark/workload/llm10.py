"""Round-6 LLM-data additions.

- d51: per-language lexical-richness profile — type/token ratio and
  hapax-legomenon ratio from one token explode + two grouped
  aggregates; the corpus-quality signal next to d02 (surface stats)
  and d16 (raw frequencies).
- x14: attribute-filtered exact top-k
  (``operators/similarity.py filtered_cosine_topk``): each query
  retrieves only among vectors sharing its ``label`` — the
  pre-filter strategy for the filtered-ANN problem, an equi-join on
  the filter attribute instead of a broadcast cross join.
- e06: per-source token-budget corpus selection
  (``operators/prep.py token_budget_selection``).
- x15: persisted incrementally-maintained IVF index
  (``operators/ivf_store.py`` — build / append-without-retrain /
  partition-pruned probe), with an anchor query planted IN the
  appended batch so the driver row binds on the append path.
- x15p: the x04p/d14p-style production twin — same store, probed at
  the production ``nlist/8`` budget, anchor-membership contract.
- x16: distributed exact kNN join (every 50th vector as query;
  ``operators/knn_join.py cosine_knn_join`` — block nested-loop
  GEMM, both sides stay DataFrames, nothing collected).
- x17: the approximate 100 TB twin of x16 — IVF-cell co-partitioned
  kNN join (``operators/knn_join.py ivf_knn_join``) at production
  probe budget, planted-anchor contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_openetl_spark.functions.text import tokens
from python_openetl_spark.workload.llm import _TOKS_SQL
from python_openetl_spark.workload.util import corpus_memo, embedding_dim, nonempty, scratch, t, table_rows

_X14_QUERY_IDS = (2, 4, 8)


def d51_lexical_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(tokens("text")).alias("tok"))
    per_type = tok.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("n"))
    return (
        per_type.groupBy("lang")
        .agg(
            F.sum("n").alias("total_tokens"),
            F.count(F.lit(1)).alias("distinct_tokens"),
            F.count_if(F.col("n") == 1).alias("hapax_tokens"),
        )
        .select(
            "lang",
            "total_tokens",
            "distinct_tokens",
            "hapax_tokens",
            # floor-scale, not ROUND: Spark rounds the shortest decimal
            # repr half-up, DuckDB rounds the binary value — they diverge
            # on decimal ties of these exact k/n rationals (q71/s09 idiom)
            (F.floor(F.col("distinct_tokens") / F.col("total_tokens") * 1e6) / 1e6)
            .alias("ttr"),
            (F.floor(F.col("hapax_tokens") / F.col("distinct_tokens") * 1e6) / 1e6)
            .alias("hapax_ratio"),
        )
    )


def x14_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_openetl_spark.operators.similarity import filtered_cosine_topk

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(*_X14_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    return filtered_cosine_topk(emb, queries, "label", k=5)


def e06_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget corpus selection
    (operators/prep.py token_budget_selection): each source's quota is
    filled largest-documents-first until the 4000-token budget is hit;
    the report states what survived per source. One partitioned window
    — the deterministic knapsack relaxation of a mixture build."""
    from python_openetl_spark.operators.prep import token_budget_selection

    kept = token_budget_selection(
        t(spark, sf_dir, "documents"), budget=4000, group_col="source"
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_tokens").alias("tokens_kept"),
        F.max("cum_tokens").alias("budget_used"),
    )



#: x15 anchor: a query equal to appended vector #7 under a synthetic id.
#: Its exact top-1 IS vector 7 (cosine 1.0) and vector 7 lives in the
#: APPENDED batch, so a broken append path (vector missing from the
#: store) deterministically flips the anchor row.
_X15_ANCHOR_SRC = 7
_X15_ANCHOR_QID = 1_000_007


def _x15_store(spark: SparkSession, sf_dir: str, nlist: int) -> str:
    """Build+append the x15 store ONCE per (session, fixture): an ANN
    index is amortized infrastructure, not per-query cost, so bench
    repeats measure the probe path (the cold build cost is the first
    repeat of a fresh session). Keyed by sf_dir so different fixture
    scales never share an index."""
    from python_openetl_spark.operators.ivf_store import (
        append_to_ivf_store,
        build_ivf_store,
    )

    def build() -> str:
        emb = t(spark, sf_dir, "embeddings")
        root = scratch("x15") + "/ivf"
        build_ivf_store(emb.filter(F.col("vec_id") % 10 != 7), root, nlist=nlist)
        append_to_ivf_store(emb.filter(F.col("vec_id") % 10 == 7), root)
        return root

    return corpus_memo("x15", sf_dir, build)


def _x15_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id").isin(1, 5, 9)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    ).unionByName(
        emb.filter(F.col("vec_id") == _X15_ANCHOR_SRC).select(
            F.lit(_X15_ANCHOR_QID).cast("long").alias("query_id"), "embedding"
        )
    )


def x15_incremental_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained persisted IVF index
    (operators/ivf_store.py): build the index from 90% of the corpus,
    APPEND the remaining 10% at batch-sized cost (assign to existing
    centroids, no retrain), then answer top-k by probing cell
    partitions — the streaming-vector-ingest lifecycle. Driver
    contract is the x05 pattern hardened per the r6 verdict: recall
    floor 0.8 per query (measured 5/5 at every fixture scale at the
    oracle probe budget nprobe = ceil(0.85*nlist), so one legitimate
    ANN miss still passes while a broken probe path fails), PLUS an
    anchor query equal to APPENDED vector 7 whose top-1 must be found
    — a deterministic bind on the append path (identical vector ->
    same cell -> first-probed cell; cosine 1.0 -> rank 1)."""
    import math

    from python_openetl_spark.operators import similarity
    from python_openetl_spark.operators.ivf_store import ivf_store_topk
    from python_openetl_spark.operators.tuning import ivf_params

    emb = t(spark, sf_dir, "embeddings")
    if not nonempty(sf_dir, "embeddings"):  # degenerate corpus: nothing to index
        return spark.createDataFrame([], "query_id long, k int, recall_ok boolean")
    p = ivf_params(table_rows(sf_dir, "embeddings"))
    root = _x15_store(spark, sf_dir, p["nlist"])
    queries = _x15_queries(spark, sf_dir)
    exact = similarity.cosine_topk(emb, queries, k=5).select("query_id", "vec_id")
    approx = ivf_store_topk(
        spark, root, queries.toPandas(), k=5,
        nprobe=math.ceil(0.85 * p["nlist"]),
    )
    hits = (
        approx.select("query_id", "vec_id")
        .join(exact, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.max(F.col("vec_id") == _X15_ANCHOR_SRC).alias("anchor_hit"),
        )
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("k"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.col("k").cast("int").alias("k"),
            (
                (F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("k") >= 0.8)
                & (
                    (F.col("query_id") != _X15_ANCHOR_QID)
                    | F.coalesce(F.col("anchor_hit"), F.lit(False))
                )
            ).alias("recall_ok"),
        )
    )


def x15p_ivf_store_production_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-probe twin of x15 (the x04p/d14p pattern): the SAME
    persisted store probed at the budget a user would run —
    nprobe = max(1, nlist // 8), ~1/8 of the cells touched instead of
    the oracle row's 85% — so the bench tracks production probe
    latency. Recall at this budget is the designed approximation trade
    (measured 0.1-0.3 on the structure-free random fixtures, whose
    uniform geometry spreads true neighbors across cells no quantizer
    can fix; the r8 k-means-trained coarse quantizer instead buys even
    cell SIZES — max/mean ~1.3 vs ~1.6 sampled — and full recall
    margin at the oracle budget, measured 1.00 at sf0.01 and sf0.1),
    so the
    driver contract is the deterministic planted-anchor membership
    invariant: for each query equal to a stored vector, that vector
    sits in the query's nearest cell (identical vector -> argmax cell
    identical -> always probed, any nprobe >= 1) at cosine 1.0, so it
    must appear in the top-5. Anchors cover BOTH lifecycle paths:
    sources 1/5/9 are in the built base, 7/17 in the appended batch."""
    from python_openetl_spark.operators.ivf_store import ivf_store_topk
    from python_openetl_spark.operators.tuning import ivf_params

    emb = t(spark, sf_dir, "embeddings")
    if not nonempty(sf_dir, "embeddings"):
        return spark.createDataFrame([], "query_id long, anchor_found boolean")
    p = ivf_params(table_rows(sf_dir, "embeddings"))
    root = _x15_store(spark, sf_dir, p["nlist"])
    anchors = emb.filter(F.col("vec_id").isin(1, 5, 9, 7, 17)).select(
        (F.col("vec_id") + 1_000_000).cast("long").alias("query_id"), "embedding"
    )
    approx = ivf_store_topk(
        spark, root, anchors.toPandas(), k=5, nprobe=max(1, p["nlist"] // 8)
    )
    return (
        approx.groupBy("query_id")
        .agg(
            F.max(F.col("vec_id") == F.col("query_id") - 1_000_000).alias(
                "anchor_found"
            )
        )
        .select("query_id", "anchor_found")
    )



def _x16_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 50 == 0)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )


def x16_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed EXACT kNN JOIN: every 50th vector is a query (a
    corpus-proportional query SET — dataset-vs-dataset linkage: dedup
    across snapshots, nearest-example attribution), each finding its 3
    nearest neighbors via operators/knn_join.py cosine_knn_join: both
    sides stay DataFrames, hash-split into blocks that meet in
    bounded-memory cogrouped-Arrow GEMM tasks, local top-k, global
    window re-rank. Restructured per the r6 verdict: the previous form
    collected the n/50 query matrix to the driver and closed the GEMM
    over it — a driver-memory scale-killer; now 10x more queries means
    10x more query blocks, never a bigger driver. Block sizes are set
    small enough that the multi-block path (the 100 TB shape) is what
    the driver and bench actually execute. Results are bit-identical
    to the exact SQL oracle (same float64 math and (cos desc, id)
    tie-break as cosine_topk). The sublinear approximate twin is x17."""
    from python_openetl_spark.operators.knn_join import cosine_knn_join

    emb = t(spark, sf_dir, "embeddings")
    return cosine_knn_join(
        emb,
        _x16_queries(spark, sf_dir),
        k=3,
        corpus_block_rows=1024,
        query_block_rows=16,
    )


def x17_cell_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate IVF-cell co-partitioned kNN join at PRODUCTION probe
    budget (operators/knn_join.py ivf_knn_join): corpus vectors live in
    their nearest cell, each query fans out to its nprobe nearest
    cells, the equi-join on cell meets in bounded cogrouped-Arrow GEMM
    tasks — FLOPs ~ nprobe/nlist of the exact x16 join, the sublinear
    100 TB shape. Recall at nprobe = nlist/8 is the designed trade on
    the structure-free random fixtures, so the driver contract is the
    deterministic planted-anchor invariant (the x15p pattern): queries
    equal to stored vectors 3/23/43 under synthetic ids must find
    their sources (identical vector -> same cell -> always probed,
    cosine 1.0 -> in top-3). The full every-50th query set still flows
    through the join (the anchors ride along with it), and recall
    floors vs exact are asserted in tests/test_knn_join.py."""
    from python_openetl_spark.operators.knn_join import ivf_knn_join
    from python_openetl_spark.operators.tuning import ivf_params

    emb = t(spark, sf_dir, "embeddings")
    if not nonempty(sf_dir, "embeddings"):
        return spark.createDataFrame([], "query_id long, anchor_found boolean")
    anchors = emb.filter(F.col("vec_id").isin(3, 23, 43)).select(
        (F.col("vec_id") + 2_000_000).cast("long").alias("query_id"), "embedding"
    )
    queries = _x16_queries(spark, sf_dir).unionByName(anchors)
    p = ivf_params(table_rows(sf_dir, "embeddings"))
    res = ivf_knn_join(
        emb,
        queries,
        k=3,
        nlist=p["nlist"],
        nprobe=max(1, p["nlist"] // 8),
        query_block_rows=16,
    )
    return (
        res.filter(F.col("query_id") >= 2_000_000)
        .groupBy("query_id")
        .agg(
            F.max(F.col("vec_id") == F.col("query_id") - 2_000_000).alias(
                "anchor_found"
            )
        )
        .select("query_id", "anchor_found")
    )



def x18_ivfpq_store_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted incrementally-maintained IVFPQ index
    (operators/ivfpq_store.py — the compressed twin of x15's raw-vector
    store): build coarse cells + PQ codebooks from 90% of the corpus,
    APPEND the remaining 10% encoded against the EXISTING quantizers
    (no retrain, into the store's delta), then answer top-k by probing
    cell partition directories plus the delta and ADC-scoring ~16-byte
    codes, exact re-rank of the
    shortlist. Driver contract is the x09 pattern (recall floor 0.2
    per query, parameters derived from corpus count) PLUS the x15
    anchor device: a query equal to APPENDED vector 7 must find it —
    identical vector -> same cell -> probed; ADC score ~max ->
    comfortably inside the rerank_factor*k shortlist; exact re-rank
    -> rank 1 — so a broken append or codebook path flips the row."""
    from python_openetl_spark.operators import similarity
    from python_openetl_spark.operators.ivfpq_store import (
        append_to_ivfpq_store,
        build_ivfpq_store,
        ivfpq_store_topk,
    )
    from python_openetl_spark.operators.tuning import ivf_params, pq_params

    emb = t(spark, sf_dir, "embeddings")
    if not nonempty(sf_dir, "embeddings"):
        return spark.createDataFrame([], "query_id long, k int, recall_ok boolean")
    n = table_rows(sf_dir, "embeddings")
    dim = embedding_dim(sf_dir)
    ip, pp = ivf_params(n), pq_params(n, dim)

    def build() -> str:
        root = scratch("x18") + "/ivfpq"
        build_ivfpq_store(
            emb.filter(F.col("vec_id") % 10 != 7),
            root,
            nlist=ip["nlist"],
            m=pp["m"],
            ksub=pp["ksub"],
        )
        append_to_ivfpq_store(emb.filter(F.col("vec_id") % 10 == 7), root)
        return root

    # an index is infrastructure, not per-query cost (the x15 rule)
    root = corpus_memo("x18", sf_dir, build)
    queries = _x15_queries(spark, sf_dir)  # 1/5/9 + the appended anchor
    exact = similarity.cosine_topk(emb, queries, k=5).select("query_id", "vec_id")
    approx = ivfpq_store_topk(
        spark,
        root,
        queries.toPandas(),
        emb,
        k=5,
        nprobe=ip["nprobe"],
        rerank_factor=pp["rerank_factor"],
    )
    hits = (
        approx.select("query_id", "vec_id")
        .join(exact, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.max(F.col("vec_id") == _X15_ANCHOR_SRC).alias("anchor_hit"),
        )
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("k"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.col("k").cast("int").alias("k"),
            (
                (F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("k") >= 0.2)
                & (
                    (F.col("query_id") != _X15_ANCHOR_QID)
                    | F.coalesce(F.col("anchor_hit"), F.lit(False))
                )
            ).alias("recall_ok"),
        )
    )


def e07_corpus_version_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-version diff card: commit the documents table as v1 and a
    mutated copy as v2 (deletes: doc_id %11; text updates: %7 get a
    ' drift' suffix; inserts: %13 echoed at doc_id + 1_000_000), then
    report in ONE row what changed between versions — the I/U/D counts
    from the version store's CDC feed (plans/versioned.py changes) and
    the unigram-distribution drift both directions
    (operators/textops.py token_kl_divergence). This is the
    "should we retrain / re-weight on the new snapshot" report: row
    churn AND distribution shift, from two immutable snapshots."""
    from python_openetl_spark.operators.textops import token_kl_divergence
    from python_openetl_spark.plans.versioned import VersionedTable

    v1 = t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    v2 = (
        v1.filter(F.col("doc_id") % 11 != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" drift"))
            ).otherwise(F.col("text")),
        )
        .unionByName(
            v1.filter(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "source"
            )
        )
    )
    vt = VersionedTable(scratch("e07") + "/corpus")
    vt.commit(v1)
    vt.commit(v2)
    chg = vt.changes(spark, "doc_id", 1)
    counts = chg.agg(
        F.count_if(F.col("change_type") == "I").alias("n_inserted"),
        F.count_if(F.col("change_type") == "U").alias("n_updated"),
        F.count_if(F.col("change_type") == "D").alias("n_deleted"),
    )
    kl = token_kl_divergence(vt.read(spark, version=1), vt.read(spark, version=2))
    return counts.join(F.broadcast(kl))



QUERIES = {
    "d51_lexical_richness": d51_lexical_richness,
    "x14_filtered_topk": x14_filtered_topk,
    "e06_token_budget_selection": e06_token_budget_selection,
    "x15_incremental_ivf_topk": x15_incremental_ivf_topk,
    "x16_knn_join": x16_knn_join,
    "e07_corpus_version_drift": e07_corpus_version_drift,
    "x15p_ivf_store_production_probe": x15p_ivf_store_production_probe,
    "x17_cell_knn_join": x17_cell_knn_join,
    "x18_ivfpq_store_topk": x18_ivfpq_store_topk,
}

ORACLE = {
    "e07_corpus_version_drift": f"""
        WITH v1 AS (SELECT doc_id, text, source FROM documents),
        v2 AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0 THEN text || ' drift' ELSE text END AS text,
                 source
          FROM v1 WHERE doc_id % 11 <> 0
          UNION ALL
          SELECT doc_id + 1000000, text, source FROM v1 WHERE doc_id % 13 = 0
        ),
        chg AS (
          SELECT CASE WHEN o.doc_id IS NULL THEN 'I'
                      WHEN n.doc_id IS NULL THEN 'D'
                      WHEN n.text IS DISTINCT FROM o.text
                        OR n.source IS DISTINCT FROM o.source THEN 'U'
                 END AS change_type
          FROM v2 n FULL OUTER JOIN v1 o ON n.doc_id = o.doc_id
        ),
        cnt AS (
          SELECT COUNT(*) FILTER (WHERE change_type = 'I') AS n_inserted,
                 COUNT(*) FILTER (WHERE change_type = 'U') AS n_updated,
                 COUNT(*) FILTER (WHERE change_type = 'D') AS n_deleted
          FROM chg
        ),
        ta AS (SELECT unnest({_TOKS_SQL}) AS token FROM v1),
        tb AS (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token FROM v2),
        ca AS (SELECT token, COUNT(*) AS ca FROM ta GROUP BY token),
        cb AS (SELECT token, COUNT(*) AS cb FROM tb GROUP BY token),
        joint AS (
          SELECT COALESCE(ca.token, cb.token) AS token,
                 COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
          FROM ca FULL OUTER JOIN cb ON ca.token = cb.token
        ),
        tot AS (SELECT COUNT(*) AS v, SUM(ca) AS na, SUM(cb) AS nb FROM joint),
        x AS (
          SELECT ca, cb, v, na, nb,
                 (CAST(ca AS DOUBLE) + 1.0) / (CAST(na AS DOUBLE) + CAST(v AS DOUBLE)) AS p,
                 (CAST(cb AS DOUBLE) + 1.0) / (CAST(nb AS DOUBLE) + CAST(v AS DOUBLE)) AS q
          FROM joint CROSS JOIN tot
        ),
        l AS (SELECT p, q, v, na, nb, round(ln(p / q), 9) AS lpq FROM x),
        kl AS (
          SELECT CAST(MAX(v) AS BIGINT) AS vocab_size,
                 CAST(MAX(na) AS BIGINT) AS n_tokens_a,
                 CAST(MAX(nb) AS BIGINT) AS n_tokens_b,
                 CAST(SUM(CAST(round(p * lpq, 12) AS DECIMAL(28,12))) AS DOUBLE) AS kl_a_b,
                 CAST(SUM(CAST(round(q * (-lpq), 12) AS DECIMAL(28,12))) AS DOUBLE) AS kl_b_a
          FROM l
        )
        SELECT * FROM cnt CROSS JOIN kl
    """,
    "x16_knn_join": """
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id % 50 = 0),
        c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        scored AS (
          SELECT q.query_id, c.vec_id,
                 list_dot_product(c.v, q.qv)
                   / (sqrt(list_dot_product(c.v, c.v))
                      * sqrt(list_dot_product(q.qv, q.qv))) AS cos_sim
          FROM c, q WHERE c.vec_id <> q.query_id
        )
        SELECT query_id, vec_id, cos_sim, rank FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, vec_id) AS rank
          FROM scored
        ) WHERE rank <= 3
    """,
    "x15_incremental_ivf_topk": f"""
        WITH q AS (
          SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id IN (1, 5, 9)
          UNION ALL
          SELECT {_X15_ANCHOR_QID}, embedding::DOUBLE[]
          FROM embeddings WHERE vec_id = {_X15_ANCHOR_SRC}
        ),
        c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        scored AS (
          SELECT q.query_id, c.vec_id FROM c, q WHERE c.vec_id <> q.query_id
          QUALIFY ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
            list_dot_product(c.v, q.qv)
              / (sqrt(list_dot_product(c.v, c.v))
                 * sqrt(list_dot_product(q.qv, q.qv))) DESC, c.vec_id) <= 5
        )
        SELECT query_id, COUNT(*)::INT AS k, TRUE AS recall_ok
        FROM scored GROUP BY query_id
    """,
    "x15p_ivf_store_production_probe": """
        SELECT vec_id + 1000000 AS query_id, TRUE AS anchor_found
        FROM embeddings WHERE vec_id IN (1, 5, 9, 7, 17)
    """,
    "x17_cell_knn_join": """
        SELECT vec_id + 2000000 AS query_id, TRUE AS anchor_found
        FROM embeddings WHERE vec_id IN (3, 23, 43)
    """,
    "x18_ivfpq_store_topk": f"""
        WITH q AS (
          SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id IN (1, 5, 9)
          UNION ALL
          SELECT {_X15_ANCHOR_QID}, embedding::DOUBLE[]
          FROM embeddings WHERE vec_id = {_X15_ANCHOR_SRC}
        ),
        c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        scored AS (
          SELECT q.query_id, c.vec_id FROM c, q WHERE c.vec_id <> q.query_id
          QUALIFY ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
            list_dot_product(c.v, q.qv)
              / (sqrt(list_dot_product(c.v, c.v))
                 * sqrt(list_dot_product(q.qv, q.qv))) DESC, c.vec_id) <= 5
        )
        SELECT query_id, COUNT(*)::INT AS k, TRUE AS recall_ok
        FROM scored GROUP BY query_id
    """,
    "e06_token_budget_selection": f"""
        WITH sized AS (
          SELECT source, doc_id, len({_TOKS_SQL})::BIGINT AS n_tokens
          FROM documents
        ),
        run AS (
          SELECT source, n_tokens,
                 SUM(n_tokens) OVER (PARTITION BY source
                   ORDER BY n_tokens DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
          FROM sized
        )
        SELECT source, COUNT(*) AS n_docs_kept,
               SUM(n_tokens)::BIGINT AS tokens_kept,
               MAX(cum_tokens)::BIGINT AS budget_used
        FROM run WHERE cum_tokens <= 4000
        GROUP BY source
    """,
    "d51_lexical_richness": f"""
        WITH tk AS (SELECT lang, unnest({_TOKS_SQL}) AS tok FROM documents),
        per_type AS (SELECT lang, tok, COUNT(*) AS n FROM tk GROUP BY 1, 2)
        SELECT lang,
               SUM(n)::BIGINT AS total_tokens,
               COUNT(*) AS distinct_tokens,
               COUNT(*) FILTER (WHERE n = 1) AS hapax_tokens,
               FLOOR(COUNT(*)::DOUBLE / SUM(n) * 1e6) / 1e6 AS ttr,
               FLOOR((COUNT(*) FILTER (WHERE n = 1))::DOUBLE / COUNT(*) * 1e6) / 1e6 AS hapax_ratio
        FROM per_type GROUP BY lang
    """,
    "x14_filtered_topk": f"""
        WITH q AS (SELECT vec_id AS query_id, label AS qlabel,
                          embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id IN {_X14_QUERY_IDS}),
        c AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        scored AS (
          SELECT q.query_id, c.vec_id,
                 list_dot_product(c.v, q.qv)
                   / (sqrt(list_dot_product(c.v, c.v))
                      * sqrt(list_dot_product(q.qv, q.qv))) AS cos_sim
          FROM c JOIN q ON c.label = q.qlabel
          WHERE c.vec_id <> q.query_id
        )
        SELECT query_id, vec_id, cos_sim, rank FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, vec_id) AS rank
          FROM scored
        ) WHERE rank <= 5
    """,
}


def d52_embedding_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift report (operators/sketches.py feature_psi):
    Population Stability Index between the corpus and a mutated
    snapshot (every 9th vector deleted, every 4th's first component
    scaled 1.5x) over an integer-bucketed feature — the numeric
    complement of e07's token-distribution drift, answering "did the
    embedding distribution move enough to re-cluster / re-index".
    The feature is the first embedding component bucketed at 0.5-width
    bins clamped to [-4, 3] (floor and clamp are engine-exact on
    doubles; float32 -> double casts are exact), so both engines build
    identical histograms and the smoothed PSI decimal-sums to the same
    bits."""
    from python_openetl_spark.operators.sketches import feature_psi

    emb = t(spark, sf_dir, "embeddings")
    v0 = F.element_at(F.col("embedding"), 1).cast("double")

    def bucketed(df, feat):
        return df.select(
            F.greatest(F.lit(-4), F.least(F.lit(3), F.floor(feat * 2.0))).alias(
                "bucket"
            )
        )

    a = bucketed(emb, v0)
    b = bucketed(
        emb.filter(F.col("vec_id") % 9 != 0),
        F.when(F.col("vec_id") % 4 == 0, v0 * 1.5).otherwise(v0),
    )
    return feature_psi(a, b)


QUERIES["d52_embedding_drift_psi"] = d52_embedding_drift_psi

ORACLE["d52_embedding_drift_psi"] = """
    WITH a AS (
      SELECT GREATEST(-4, LEAST(3, FLOOR(CAST(embedding[1] AS DOUBLE) * 2.0)))::BIGINT AS b
      FROM embeddings
    ),
    bb AS (
      SELECT GREATEST(-4, LEAST(3, FLOOR(
               CASE WHEN vec_id % 4 = 0 THEN CAST(embedding[1] AS DOUBLE) * 1.5
                    ELSE CAST(embedding[1] AS DOUBLE) END * 2.0)))::BIGINT AS b
      FROM embeddings WHERE vec_id % 9 <> 0
    ),
    ca AS (SELECT b, COUNT(*) AS ca FROM a GROUP BY b),
    cb AS (SELECT b, COUNT(*) AS cb FROM bb GROUP BY b),
    joint AS (
      SELECT COALESCE(ca.b, cb.b) AS b,
             COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
      FROM ca FULL OUTER JOIN cb ON ca.b = cb.b
    ),
    tot AS (SELECT COUNT(*) AS v, SUM(ca) AS na, SUM(cb) AS nb FROM joint),
    x AS (
      SELECT v, na, nb,
             (ca + 1.0) / (CAST(na AS DOUBLE) + CAST(v AS DOUBLE)) AS p,
             (cb + 1.0) / (CAST(nb AS DOUBLE) + CAST(v AS DOUBLE)) AS q
      FROM joint CROSS JOIN tot
    )
    SELECT CAST(MAX(v) AS BIGINT) AS n_buckets,
           CAST(MAX(na) AS BIGINT) AS n_a,
           CAST(MAX(nb) AS BIGINT) AS n_b,
           CAST(SUM(CAST(round((p - q) * round(ln(p / q), 9), 12) AS DECIMAL(28,12))) AS DOUBLE) AS psi
    FROM x
"""
