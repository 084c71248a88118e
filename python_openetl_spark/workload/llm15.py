"""Round-12 LLM-data queries.

- x26: feature-scored reranking of the fused retrieval shortlist
  (operators/retrieval.py feature_rerank) — the deterministic
  cross-encoder-tier stand-in that completes the three-stage retrieval
  pipeline the north star needs (tower top-k → x10's reciprocal-rank
  fusion → rerank). The query set, both towers and the fusion are
  exactly x10's (workload/llm6.py), so the shortlist the reranker
  consumes is itself oracle-pinned; the rerank adds the BM25, cosine
  and length-prior feature blend on top, every term decimal-rounded so
  the full pipeline stays value-hash-matched against DuckDB.

Reference parity: the reference engine has no retrieval surface —
this is BASELINE.json north-star extension surface (r11 verdict
item 7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_openetl_spark.workload.llm3 import _TOKS
from python_openetl_spark.workload.llm6 import _Q_LEN, _Q_MOD, _derived_queries
from python_openetl_spark.workload.util import corpus_memo, t

QUERIES: dict = {}
ORACLE: dict = {}

#: rerank feature weights (exact shortest-repr doubles on both parsers)
_W_LEX, _W_COS, _W_LEN = 0.5, 0.3, 0.2


def _build_towers(spark: SparkSession, sf_dir: str):
    """(lexical_pdf, dense_pdf): BM25 top-10 and cosine top-10 towers
    over the x10 query set, as driver-local pandas (queries x k rows —
    bm25 already requires a broadcastable query set)."""
    from python_openetl_spark.operators import similarity
    from python_openetl_spark.operators.retrieval import bm25_topk

    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    qdocs = _derived_queries(docs).join(
        F.broadcast(emb.select(F.col("vec_id").alias("query_id"))),
        "query_id",
    )
    lexical = bm25_topk(docs, qdocs, k=10).toPandas()
    dense = (
        similarity.cosine_topk(
            emb,
            emb.join(
                F.broadcast(qdocs.select("query_id")),
                emb.vec_id == F.col("query_id"),
            ).select("query_id", "embedding"),
            k=10,
        )
        .select(
            "query_id", F.col("vec_id").alias("doc_id"), "cos_sim", "rank"
        )
        .toPandas()
    )
    return lexical, dense


def _shared_towers(spark: SparkSession, sf_dir: str):
    """The towers, computed once per corpus: x27 evaluates x26's
    pipeline, so both rows consume the IDENTICAL towers — rebuilding
    them per row made the pair the two heaviest non-streaming rows in
    the suite. Pandas, so the memo is session-proof: each call
    re-creates the Spark frame on ITS session."""
    return corpus_memo("towers", sf_dir, lambda: _build_towers(spark, sf_dir))


def x26_feature_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-stage retrieval: BM25 top-10 and dense cosine top-10
    (x10's towers), RRF-fused into a top-10 shortlist, then reranked by
    the deterministic feature blend ``0.5·lex_n + 0.3·cos_n +
    0.2·len_prior`` (operators/retrieval.py feature_rerank) and cut to
    the final top-5. Candidates that reached the shortlist through one
    tower only score 0 on the other tower's feature — exactly the
    evidence asymmetry a production reranker adjudicates."""
    from python_openetl_spark.operators.retrieval import (
        doc_lengths,
        feature_rerank,
        rrf_fuse,
    )

    docs = t(spark, sf_dir, "documents")
    # Each tower result is referenced 2-3x downstream (fusion + its
    # feature column); left lazy, Spark would re-run the whole tower
    # subtree (corpus scans) per reference. Tower top-k frames are
    # DRIVER-BOUNDED by construction (queries x k rows — bm25 already
    # requires a broadcastable query set), so materialize each ONCE as
    # a local frame (bench-measured 16 s -> ~6 s at sf0.1, no persisted
    # blocks leak into executor storage — the d40 lesson) and SHARE it
    # with x27, which evaluates this same pipeline (_shared_towers).
    lex_pdf, dense_pdf = _shared_towers(spark, sf_dir)
    lexical = spark.createDataFrame(
        lex_pdf, "query_id long, doc_id long, score double, rank int"
    )
    dense = spark.createDataFrame(
        dense_pdf, "query_id long, doc_id long, cos_sim double, rank int"
    )
    fused = rrf_fuse(
        [lexical.select("query_id", "doc_id", "rank"),
         dense.select("query_id", "doc_id", "rank")],
        topk=10,
    )
    return feature_rerank(
        fused,
        lexical,
        dense,
        doc_lengths(docs),
        w_lex=_W_LEX,
        w_cos=_W_COS,
        w_len=_W_LEN,
        topk=5,
    )


QUERIES["x26_feature_rerank"] = x26_feature_rerank

# The CTE chain up to `fused` is x10's oracle verbatim (llm6.py — the
# shortlist the reranker consumes is itself oracle-pinned); the rerank
# stages mirror operators/retrieval.py feature_rerank op for op.
ORACLE["x26_feature_rerank"] = f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    stats AS (SELECT COUNT(*) AS n_docs, SUM(len(toks)) AS sum_dl FROM tk),
    dl AS (SELECT doc_id, len(toks) AS dl FROM tk),
    q AS (SELECT doc_id AS query_id, list_slice(toks, 1, {_Q_LEN}) AS qt
          FROM tk WHERE doc_id % {_Q_MOD} = 0
            AND doc_id IN (SELECT vec_id FROM embeddings)),
    qterms AS (SELECT DISTINCT query_id, unnest(qt) AS term FROM q),
    qvocab AS (SELECT DISTINCT term FROM qterms),
    post AS (
      SELECT term, doc_id, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest(toks) AS term FROM tk
      ) WHERE term IN (SELECT term FROM qvocab)
      GROUP BY term, doc_id
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM post GROUP BY term),
    bscored AS (
      SELECT query_id, doc_id,
             SUM(CAST(ROUND(
               ROUND(ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                        / (CAST(df AS DOUBLE) + 0.5) + 1.0), 9)
               * (CAST(tf AS DOUBLE) * 2.2
                  / (CAST(tf AS DOUBLE)
                     + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
                              / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
             , 7) AS DECIMAL(20,7))) AS score_dec
      FROM post
      JOIN qterms USING (term)
      JOIN dfreq USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
      GROUP BY query_id, doc_id
    ),
    lex AS (
      SELECT query_id, doc_id, CAST(score_dec AS DOUBLE) AS lex_score, rank
      FROM (
        SELECT query_id, doc_id, score_dec, ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY score_dec DESC, doc_id) AS rank
        FROM bscored
      ) WHERE rank <= 10
    ),
    eq AS (SELECT q.query_id, e.embedding::DOUBLE[] AS qv
           FROM q JOIN embeddings e ON e.vec_id = q.query_id),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    dscored AS (
      SELECT eq.query_id, c.vec_id AS doc_id,
             list_dot_product(c.v, eq.qv)
               / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(eq.qv, eq.qv))) AS cos_sim
      FROM c, eq WHERE c.vec_id <> eq.query_id
    ),
    dense AS (
      SELECT query_id, doc_id, cos_sim, rank FROM (
        SELECT query_id, doc_id, cos_sim, ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cos_sim DESC, doc_id) AS rank
        FROM dscored
      ) WHERE rank <= 10
    ),
    contrib AS (
      SELECT query_id, doc_id,
             CAST(ROUND(1.0 / (60.0 + CAST(rank AS DOUBLE)), 9) AS DECIMAL(20,9)) AS c
      FROM lex
      UNION ALL
      SELECT query_id, doc_id,
             CAST(ROUND(1.0 / (60.0 + CAST(rank AS DOUBLE)), 9) AS DECIMAL(20,9)) AS c
      FROM dense
    ),
    fused AS (
      SELECT query_id, doc_id FROM (
        SELECT query_id, doc_id, ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY score_dec DESC, doc_id) AS rank
        FROM (SELECT query_id, doc_id, SUM(c) AS score_dec
              FROM contrib GROUP BY query_id, doc_id)
      ) WHERE rank <= 10
    ),
    feats AS (
      SELECT f.query_id, f.doc_id, l.lex_score, d.cos_sim, dl.dl,
             MIN(l.lex_score) OVER (PARTITION BY f.query_id) AS smin,
             MAX(l.lex_score) OVER (PARTITION BY f.query_id) AS smax
      FROM fused f
      LEFT JOIN lex l ON l.query_id = f.query_id AND l.doc_id = f.doc_id
      LEFT JOIN dense d ON d.query_id = f.query_id AND d.doc_id = f.doc_id
      LEFT JOIN dl ON dl.doc_id = f.doc_id
    ),
    rer AS (
      SELECT query_id, doc_id,
        CAST(ROUND({_W_LEX} * (CASE
          WHEN lex_score IS NULL THEN 0.0
          WHEN smax = smin THEN 1.0
          ELSE ROUND((lex_score - smin) / (smax - smin), 9) END), 9)
          AS DECIMAL(20,9))
        + CAST(ROUND({_W_COS} * (CASE
          WHEN cos_sim IS NULL THEN 0.0
          ELSE ROUND((cos_sim + 1.0) / 2.0, 9) END), 9) AS DECIMAL(20,9))
        + CAST(ROUND({_W_LEN} * (CASE
          WHEN COALESCE(dl, 0) <= 0 THEN 0.0
          ELSE ROUND(1.0 / (1.0 + ABS(ROUND(ln(CAST(dl AS DOUBLE)
               / (SELECT CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)
                  FROM stats)), 9))), 9) END), 9) AS DECIMAL(20,9))
        AS score_dec
      FROM feats
    )
    SELECT query_id, doc_id, CAST(score_dec AS DOUBLE) AS rerank_score, rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY score_dec DESC, doc_id) AS rank
      FROM rer
    ) WHERE rank <= 5
"""


def x27_retrieval_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation of the hybrid pipeline
    (operators/retrieval.py retrieval_eval): x10's RRF-fused top-5 is
    scored against a corpus-derived judgment set — for each query, its
    source document is relevance 3 and every other document sharing the
    query doc's (source, lang) is relevance 1 (the topical-cluster
    proxy; both engines derive it from the same two columns). Per query:
    MRR@5, nDCG@5 and recall@5, every gain decimal-rounded so the whole
    tower->fusion->evaluation chain value-hash-matches DuckDB."""
    from python_openetl_spark.operators.retrieval import (
        retrieval_eval,
        rrf_fuse,
    )

    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    qdocs = _derived_queries(docs).join(
        F.broadcast(emb.select(F.col("vec_id").alias("query_id"))), "query_id"
    )
    # towers SHARED with x26 (r13 verdict #4): this row evaluates x26's
    # pipeline, so it consumes the identical memoized tower top-k
    lex_pdf, dense_pdf = _shared_towers(spark, sf_dir)
    lexical = spark.createDataFrame(
        lex_pdf, "query_id long, doc_id long, score double, rank int"
    )
    dense = spark.createDataFrame(
        dense_pdf[["query_id", "doc_id", "rank"]],
        "query_id long, doc_id long, rank int",
    )
    fused = rrf_fuse(
        [lexical.select("query_id", "doc_id", "rank"), dense], topk=5
    )
    qkeys = docs.join(
        F.broadcast(qdocs.select("query_id")),
        docs.doc_id == F.col("query_id"),
    ).select("query_id", F.col("source").alias("__qsrc"), F.col("lang").alias("__qlang"))
    qrels = (
        docs.join(
            F.broadcast(qkeys),
            (docs.source == F.col("__qsrc")) & (docs.lang == F.col("__qlang")),
        )
        .select(
            "query_id",
            "doc_id",
            F.when(F.col("doc_id") == F.col("query_id"), F.lit(3))
            .otherwise(F.lit(1))
            .alias("rel"),
        )
    )
    return retrieval_eval(fused, qrels, k=5)


QUERIES["x27_retrieval_quality_report"] = x27_retrieval_quality_report

# CTE chain up to `fused` is x10's oracle verbatim (llm6.py); qrels +
# eval mirror operators/retrieval.py retrieval_eval op for op.
ORACLE["x27_retrieval_quality_report"] = f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    stats AS (SELECT COUNT(*) AS n_docs, SUM(len(toks)) AS sum_dl FROM tk),
    dl AS (SELECT doc_id, len(toks) AS dl FROM tk),
    q AS (SELECT doc_id AS query_id, list_slice(toks, 1, {_Q_LEN}) AS qt
          FROM tk WHERE doc_id % {_Q_MOD} = 0
            AND doc_id IN (SELECT vec_id FROM embeddings)),
    qterms AS (SELECT DISTINCT query_id, unnest(qt) AS term FROM q),
    qvocab AS (SELECT DISTINCT term FROM qterms),
    post AS (
      SELECT term, doc_id, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest(toks) AS term FROM tk
      ) WHERE term IN (SELECT term FROM qvocab)
      GROUP BY term, doc_id
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM post GROUP BY term),
    bscored AS (
      SELECT query_id, doc_id,
             SUM(CAST(ROUND(
               ROUND(ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                        / (CAST(df AS DOUBLE) + 0.5) + 1.0), 9)
               * (CAST(tf AS DOUBLE) * 2.2
                  / (CAST(tf AS DOUBLE)
                     + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
                              / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
             , 7) AS DECIMAL(20,7))) AS score_dec
      FROM post
      JOIN qterms USING (term)
      JOIN dfreq USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
      GROUP BY query_id, doc_id
    ),
    lex AS (
      SELECT query_id, doc_id, rank FROM (
        SELECT query_id, doc_id, ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY score_dec DESC, doc_id) AS rank
        FROM bscored
      ) WHERE rank <= 10
    ),
    eq AS (SELECT q.query_id, e.embedding::DOUBLE[] AS qv
           FROM q JOIN embeddings e ON e.vec_id = q.query_id),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    dscored AS (
      SELECT eq.query_id, c.vec_id AS doc_id,
             list_dot_product(c.v, eq.qv)
               / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(eq.qv, eq.qv))) AS cos_sim
      FROM c, eq WHERE c.vec_id <> eq.query_id
    ),
    dense AS (
      SELECT query_id, doc_id, rank FROM (
        SELECT query_id, doc_id, ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cos_sim DESC, doc_id) AS rank
        FROM dscored
      ) WHERE rank <= 10
    ),
    contrib AS (
      SELECT query_id, doc_id,
             CAST(ROUND(1.0 / (60.0 + CAST(rank AS DOUBLE)), 9) AS DECIMAL(20,9)) AS c
      FROM lex
      UNION ALL
      SELECT query_id, doc_id,
             CAST(ROUND(1.0 / (60.0 + CAST(rank AS DOUBLE)), 9) AS DECIMAL(20,9)) AS c
      FROM dense
    ),
    fused AS (
      SELECT query_id, doc_id, rank FROM (
        SELECT query_id, doc_id, ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY score_dec DESC, doc_id) AS rank
        FROM (SELECT query_id, doc_id, SUM(c) AS score_dec
              FROM contrib GROUP BY query_id, doc_id)
      ) WHERE rank <= 5
    ),
    qkeys AS (
      SELECT q.query_id, d.source AS qsrc, d.lang AS qlang
      FROM q JOIN documents d ON d.doc_id = q.query_id
    ),
    qrels AS (
      SELECT k.query_id, d.doc_id,
             CASE WHEN d.doc_id = k.query_id THEN 3 ELSE 1 END AS rel
      FROM documents d JOIN qkeys k
        ON d.source = k.qsrc AND d.lang = k.qlang
    ),
    hit AS (
      SELECT f.query_id,
             SUM(CAST(ROUND(CAST(r.rel AS DOUBLE)
                 / log2(CAST(f.rank AS DOUBLE) + 1.0), 9) AS DECIMAL(20,9)))
               AS dcg,
             ROUND(1.0 / CAST(MIN(f.rank) AS DOUBLE), 9) AS mrr,
             COUNT(*) AS hits
      FROM fused f JOIN qrels r
        ON r.query_id = f.query_id AND r.doc_id = f.doc_id
      WHERE r.rel > 0
      GROUP BY f.query_id
    ),
    ideal AS (
      SELECT query_id,
             SUM(CAST(ROUND(CAST(rel AS DOUBLE)
                 / log2(CAST(pos AS DOUBLE) + 1.0), 9) AS DECIMAL(20,9)))
               AS idcg
      FROM (
        SELECT query_id, rel, ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY rel DESC, doc_id) AS pos
        FROM qrels WHERE rel > 0
      ) WHERE pos <= 5
      GROUP BY query_id
    ),
    totals AS (
      SELECT query_id, COUNT(*) AS n_rel FROM qrels WHERE rel > 0
      GROUP BY query_id
    )
    SELECT t.query_id,
           COALESCE(h.mrr, 0.0) AS mrr,
           ROUND(COALESCE(CAST(h.dcg AS DOUBLE), 0.0)
                 / CAST(i.idcg AS DOUBLE), 9) AS ndcg,
           ROUND(CAST(COALESCE(h.hits, 0) AS DOUBLE)
                 / CAST(t.n_rel AS DOUBLE), 9) AS recall
    FROM totals t
    JOIN ideal i USING (query_id)
    LEFT JOIN hit h USING (query_id)
"""
