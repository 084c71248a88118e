"""Round-5 LLM-data additions, batch 2: tokenizer training + staged
retrieval.

- d46: distributed BPE merge training (operators/bpe.py) — the
  tokenizer-fitting step of a training-data pipeline, verified against
  an UNROLLED per-iteration SQL oracle (the d40 pagerank pattern):
  each greedy merge round is one CTE chain of
  pair-count → argmax → token-exact merge fold (Spark ``aggregate``
  mirrored by DuckDB ``list_reduce``; a plain string replace would
  corrupt merges whose left symbol is the suffix of a longer token).
- x12: Matryoshka two-stage retrieval (operators/similarity.py
  ``matryoshka_topk``) — rank the corpus on the 16-dim embedding
  prefix, rerank the survivors with the full 64-dim cosine. The
  oracle mirrors BOTH stages exactly (prefix slice included), so the
  check is deterministic equality, not a recall bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_openetl_spark.workload.util import t

_BPE_ITERS = 3


def d46_bpe_merge_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First three learned BPE merges over the documents corpus."""
    from python_openetl_spark.operators.bpe import bpe_train, word_counts

    return bpe_train(word_counts(t(spark, sf_dir, "documents")), iters=_BPE_ITERS)


_X12_QUERY_IDS = (1, 5, 9)
_X12_PREFIX = 16
_X12_K = 5
_X12_RERANK = 4


def x12_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_openetl_spark.operators.similarity import matryoshka_topk

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(*_X12_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return matryoshka_topk(
        emb,
        queries,
        prefix_dims=_X12_PREFIX,
        k=_X12_K,
        rerank_factor=_X12_RERANK,
    )


def _bpe_oracle(iters: int) -> str:
    """Unrolled BPE training oracle: one (pairs → top-merge → apply)
    CTE chain per iteration, over the distinct-word frequency table."""
    parts = [
        """WITH w AS (
  SELECT u.word AS word, COUNT(*) AS cnt
  FROM documents, unnest(string_split_regex(lower(text), '\\s+')) AS u(word)
  WHERE length(u.word) > 0
  GROUP BY 1
),
s0 AS (SELECT cnt, array_to_string(string_split(word, ''), chr(31)) AS seq FROM w)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
p{i} AS (
  SELECT ts[j] AS l, ts[j + 1] AS r, CAST(SUM(cnt) AS BIGINT) AS freq
  FROM (SELECT cnt, string_split(seq, chr(31)) AS ts FROM s{i - 1}) s,
       unnest(range(1, len(ts))) AS u(j)
  GROUP BY 1, 2
),
m{i} AS (SELECT CAST({i} AS BIGINT) AS iteration, l, r, freq
         FROM p{i} ORDER BY freq DESC, l, r LIMIT 1),
s{i} AS (
  SELECT cnt,
         list_reduce(string_split(seq, chr(31)), (acc, x) ->
           CASE WHEN (acc = m.l OR ends_with(acc, chr(31) || m.l)) AND x = m.r
                THEN acc || x
                ELSE acc || chr(31) || x END) AS seq
  FROM s{i - 1}, m{i} AS m
)"""
        )
    union = " UNION ALL ".join(f"SELECT * FROM m{i}" for i in range(1, iters + 1))
    parts.append(
        f"""
SELECT iteration, l AS left_tok, r AS right_tok, freq AS pair_freq
FROM ({union})"""
    )
    return "".join(parts)


def x13_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantized first pass (4x less data moved per scan
    row) + exact full-precision rerank. Both stages deterministic JVM
    folds, so the oracle mirrors the full two-stage plan including the
    x06 quantization formula."""
    from python_openetl_spark.operators.similarity import quantized_topk

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(*_X12_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return quantized_topk(emb, queries, k=_X12_K, rerank_factor=_X12_RERANK)


def d47_quality_canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-aware cluster canonicalization
    (operators/cluster.py canonicalize_corpus(prefer_col=...)): keep
    each duplicate cluster's LONGEST member instead of its min id — on
    the twin corpus the planted twins are 4 chars longer, so the
    surviving set provably differs from d13's min-id policy."""
    from python_openetl_spark.operators.cluster import canonicalize_corpus
    from python_openetl_spark.workload.llm import _docs_with_twins, _jaccard_pairs

    docs = _docs_with_twins(spark, sf_dir).withColumn("sz", F.length("text"))
    out = canonicalize_corpus(
        docs, _jaccard_pairs(spark, sf_dir), "doc_id", prefer_col="sz"
    )
    return out.select("doc_id", "text")


_D48_W = 8


def d48_cross_doc_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cross-document substring duplication
    (operators/dedup.py cross_doc_repeated_windows): per-doc fraction
    of 8-token sliding windows that also occur in another document —
    the Lee-et-al-style span-level dedup signal. Documents shorter
    than the window are absent by contract."""
    from python_openetl_spark.operators.dedup import cross_doc_repeated_windows

    return cross_doc_repeated_windows(
        t(spark, sf_dir, "documents"), window=_D48_W, min_docs=2
    )


_D49_SHARDS = 8


def d49_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-balanced shard export (operators/sampling.py
    balanced_shards): rank-and-deal round-robin over token counts —
    per-shard stats prove the deal; the distributed total order makes
    the assignment deterministic, so the SQL oracle's ROW_NUMBER deal
    matches exactly."""
    from python_openetl_spark.functions.text import token_count
    from python_openetl_spark.operators.sampling import balanced_shards

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").cast("long").alias("n_tok")
    )
    sh = balanced_shards(docs, _D49_SHARDS, "n_tok")
    return sh.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.max("n_tok").alias("max_tokens"),
    )


def d50_gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule document gate (operators/prep.py
    gopher_quality_gate) with thresholds tightened so the fixture
    corpus actually splits (fixture docs average ~50 short words):
    word-count window [20, 60], mean word length [3.5, 6.0], symbol
    ratio ≤ 0.1."""
    from python_openetl_spark.operators.prep import gopher_quality_gate

    return gopher_quality_gate(
        t(spark, sf_dir, "documents"),
        min_words=20,
        max_words=60,
        min_mean_word_len=3.5,
        max_mean_word_len=6.0,
        max_symbol_ratio=0.1,
    )


QUERIES = {
    "d46_bpe_merge_train": d46_bpe_merge_train,
    "x12_matryoshka_topk": x12_matryoshka_topk,
    "x13_quantized_topk": x13_quantized_topk,
    "d47_quality_canonical_corpus": d47_quality_canonical_corpus,
    "d48_cross_doc_repeated_spans": d48_cross_doc_repeated_spans,
    "d49_balanced_shards": d49_balanced_shards,
    "d50_gopher_quality_gate": d50_gopher_quality_gate,
}

def _d47_oracle() -> str:
    from python_openetl_spark.workload.llm import _COMPONENTS_SQL, _TWINS_SQL

    return f"""
        WITH comp AS ({_COMPONENTS_SQL}),
        docs AS ({_TWINS_SQL}),
        members AS (
          SELECT comp.id, comp.cluster_id, length(d.text) AS sz
          FROM comp JOIN docs d ON comp.id = d.doc_id
        ),
        win AS (
          SELECT id FROM (
            SELECT id, ROW_NUMBER() OVER (
                     PARTITION BY cluster_id ORDER BY sz DESC, id) AS rn
            FROM members
          ) WHERE rn = 1
        )
        SELECT d.doc_id, d.text
        FROM docs d LEFT JOIN comp ON d.doc_id = comp.id
        WHERE comp.id IS NULL OR d.doc_id IN (SELECT id FROM win)
    """


def _d48_oracle() -> str:
    from python_openetl_spark.workload.llm import _TOKS_SQL

    w = _D48_W
    return f"""
        WITH tk AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
        wins AS (
          SELECT doc_id,
                 md5(array_to_string(list_slice(toks, i, i + {w - 1}), ' ')) AS h
          FROM tk, unnest(range(1, len(toks) - {w} + 2)) AS u(i)
          WHERE len(toks) >= {w}
        ),
        rep AS (
          SELECT h FROM (
            SELECT h, COUNT(DISTINCT doc_id) AS nd FROM wins GROUP BY h
          ) WHERE nd >= 2
        )
        SELECT w.doc_id, COUNT(*) AS n_windows,
               CAST(SUM(CASE WHEN r.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated,
               ROUND(CAST(SUM(CASE WHEN r.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                       / COUNT(*), 6) AS repeat_frac
        FROM wins w LEFT JOIN rep r ON w.h = r.h
        GROUP BY w.doc_id
    """


def _d49_oracle() -> str:
    from python_openetl_spark.workload.llm import _TOKS_SQL

    return f"""
        WITH tk AS (SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tok
                    FROM documents),
        rk AS (
          SELECT doc_id, n_tok,
                 ROW_NUMBER() OVER (ORDER BY n_tok DESC, doc_id) - 1 AS rn
          FROM tk
        )
        SELECT CAST(rn % {_D49_SHARDS} AS INT) AS shard_id,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
               MAX(n_tok) AS max_tokens
        FROM rk GROUP BY 1
    """


ORACLE = {
    "d46_bpe_merge_train": _bpe_oracle(_BPE_ITERS),
    "d47_quality_canonical_corpus": _d47_oracle(),
    "d48_cross_doc_repeated_spans": _d48_oracle(),
    "d49_balanced_shards": _d49_oracle(),
    "d50_gopher_quality_gate": """
        WITH s AS (
          SELECT doc_id,
                 COALESCE(len(list_filter(
                   regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                   x -> x <> '')), 0) AS n,
                 length(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS norm_len,
                 length(text) AS raw_len,
                 length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS kept_len
          FROM documents
        ),
        f AS (
          SELECT doc_id, n,
                 (n < 20 OR n > 60) AS v_words,
                 (n > 0 AND ((CAST(norm_len - (n - 1) AS DOUBLE) / NULLIF(n, 0)) < 3.5
                          OR (CAST(norm_len - (n - 1) AS DOUBLE) / NULLIF(n, 0)) > 6.0)) AS v_mean,
                 (raw_len IS NOT NULL AND raw_len > 0
                  AND (CAST(raw_len - kept_len AS DOUBLE) / NULLIF(raw_len, 0)) > 0.1) AS v_sym
          FROM s
        )
        SELECT doc_id, CAST(n AS BIGINT) AS n_words,
               CASE WHEN NOT (v_words OR v_mean OR v_sym) THEN NULL
                    ELSE concat_ws(',',
                           CASE WHEN v_words THEN 'word_count' END,
                           CASE WHEN v_mean THEN 'mean_word_len' END,
                           CASE WHEN v_sym THEN 'symbol_ratio' END) END AS reasons,
               NOT (v_words OR v_mean OR v_sym) AS keep
        FROM f
    """,
    "x12_matryoshka_topk": f"""
        WITH q AS (
          SELECT vec_id AS query_id,
                 embedding::DOUBLE[] AS qv,
                 (embedding::DOUBLE[])[1:{_X12_PREFIX}] AS qp
          FROM embeddings WHERE vec_id IN {_X12_QUERY_IDS}
        ),
        c AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 (embedding::DOUBLE[])[1:{_X12_PREFIX}] AS vp
          FROM embeddings
        ),
        s1 AS (
          SELECT q.query_id, c.vec_id, c.v, q.qv,
                 list_dot_product(c.vp, q.qp)
                   / (sqrt(list_dot_product(c.vp, c.vp)) * sqrt(list_dot_product(q.qp, q.qp))) AS pre_sim
          FROM c, q WHERE c.vec_id <> q.query_id
        ),
        cand AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY pre_sim DESC, vec_id) AS prerank
          FROM s1
        ),
        re AS (
          SELECT query_id, vec_id, pre_sim,
                 list_dot_product(v, qv)
                   / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS cos_sim
          FROM cand WHERE prerank <= {_X12_K * _X12_RERANK}
        )
        SELECT query_id, vec_id, pre_sim, cos_sim, rank FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
          FROM re
        ) WHERE rank <= {_X12_K}
    """,
    # stage-1 quantization mirrors the x06 oracle's formula exactly
    # (per-vector symmetric scale, round-half-up); the int products stay
    # exact in doubles, so the two-stage result is deterministic
    "x13_quantized_topk": f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        z AS (
          SELECT vec_id, v,
                 CASE WHEN amax = 0 THEN 1.0 ELSE amax / 127.0 END AS scale
          FROM (SELECT vec_id, v,
                       list_max(list_transform(v, x -> abs(x))) AS amax
                FROM e)
        ),
        qz AS (
          SELECT vec_id, v, scale,
                 list_transform(v, x -> floor(x / scale + 0.5)) AS qq
          FROM z
        ),
        q AS (SELECT vec_id AS query_id, v AS qv, scale AS qscale, qq AS qqq
              FROM qz WHERE vec_id IN {_X12_QUERY_IDS}),
        s1 AS (
          SELECT q.query_id, c.vec_id, c.v, q.qv,
                 list_dot_product(c.qq, q.qqq) * c.scale * q.qscale AS approx_ip
          FROM qz c, q WHERE c.vec_id <> q.query_id
        ),
        cand AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY approx_ip DESC, vec_id) AS prerank
          FROM s1
        ),
        re AS (
          SELECT query_id, vec_id, approx_ip,
                 list_dot_product(v, qv)
                   / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS cos_sim
          FROM cand WHERE prerank <= {_X12_K * _X12_RERANK}
        )
        SELECT query_id, vec_id, approx_ip, cos_sim, rank FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
          FROM re
        ) WHERE rank <= {_X12_K}
    """,
}
