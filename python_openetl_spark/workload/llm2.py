"""Round-2 training-corpus preparation queries (operators/prep.py).

d18–d22: repetition quality signals, benchmark contamination, PII
redaction, sequence packing, mixture resampling — the preparation
passes of an LLM data pipeline beyond the dedup/similarity families in
``workload.llm``. Every query has a full DuckDB oracle (the float
divisions are evaluated in the same IEEE order on both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_openetl_spark.operators import prep
from python_openetl_spark.workload.util import t

#: d22 target mixture (langs in the fixture corpus).
_MIX = {"en": 0.35, "de": 0.15, "fr": 0.15, "es": 0.20, "zh": 0.15}


def d18_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters over word n-grams."""
    return prep.repetition_stats(t(spark, sf_dir, "documents"))


def d19_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination: docs with doc_id % 50 == 0 stand in for
    the held-out benchmark; the rest of the corpus is scanned for
    3-gram overlap against its broadcast shingle set."""
    d = t(spark, sf_dir, "documents")
    return prep.contamination_check(
        d.filter(F.col("doc_id") % 50 != 0),
        d.filter(F.col("doc_id") % 50 == 0),
        threshold=0.5,
    )


def d20_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over a corpus with deterministically planted
    emails/phones (every third doc), so both the match counts and the
    rewritten text are oracle-checkable."""
    d = t(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-"),
                F.lpad((F.col("doc_id") % 10_000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return prep.redact_pii(planted).select(
        "doc_id", "n_emails", "n_phones", "text_redacted"
    )


def d21_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing into 64-token context windows, packed
    per language shard (no global sort — the 100 TB shape)."""
    return prep.pack_sequences(t(spark, sf_dir, "documents"), ctx=64, by="lang")


def d22_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic resample of the corpus to the target language
    mixture at half size; membership is content-hash stable."""
    out = prep.mixture_resample(t(spark, sf_dir, "documents"), _MIX)
    return out.select("doc_id", "lang", "source")


def x07_ivf_full_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with nprobe == nlist: probing every cell makes the
    approximate path exact (no candidate is pruned), so the exact
    brute-force SQL is a full hash oracle for the IVF dataflow —
    complementing x05's pruned-probe rows-only check. The cosine rerank
    is the JVM expression, bit-identical to DuckDB's fold."""
    from python_openetl_spark.operators import similarity
    from python_openetl_spark.workload.llm import _QUERY_IDS

    emb = t(spark, sf_dir, "embeddings")
    qpdf = (
        emb.filter(F.col("vec_id").isin(*_QUERY_IDS))
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .toPandas()
    )
    return similarity.ivf_topk(emb, qpdf, k=5, nlist=16, nprobe=16)


QUERIES = {
    "d18_repetition_stats": d18_repetition_stats,
    "d19_contamination_check": d19_contamination_check,
    "d20_pii_redaction": d20_pii_redaction,
    "d21_sequence_packing": d21_sequence_packing,
    "d22_mixture_resample": d22_mixture_resample,
    "x07_ivf_full_probe": x07_ivf_full_probe,
}

_TOKS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"


def _shingles(n: int) -> str:
    return f"""
      CASE WHEN len(toks) >= {n}
           THEN list_transform(range(1, len(toks) - {n - 2}),
                               i -> array_to_string(list_slice(toks, i, i + {n - 1}), ' '))
           ELSE [] END
    """


_PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PII_PHONE = "\\b555-[0-9]{4}\\b"

_MIX_VALUES = ", ".join(f"('{k}', {v})" for k, v in _MIX.items())

ORACLE = {
    "d18_repetition_stats": f"""
        WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        base AS (
          SELECT doc_id, len(toks) AS n_tokens,
                 len(list_distinct(toks)) AS n_distinct_tokens,
                 {_shingles(2)} AS bigrams
          FROM tk
        ),
        bg AS (
          SELECT doc_id, bg, COUNT(*) AS c
          FROM (SELECT doc_id, unnest(bigrams) AS bg FROM base)
          GROUP BY doc_id, bg
        ),
        agg AS (
          SELECT doc_id, MAX(c) AS top_bigram_n,
                 CAST(SUM(c) AS BIGINT) AS n_bigrams
          FROM bg GROUP BY doc_id
        )
        SELECT b.doc_id, b.n_tokens, b.n_distinct_tokens,
               CASE WHEN b.n_tokens > 0
                    THEN 1.0 - b.n_distinct_tokens / b.n_tokens
                    ELSE 0.0 END AS dup_token_frac,
               CASE WHEN COALESCE(a.n_bigrams, 0) > 0
                    THEN a.top_bigram_n / a.n_bigrams
                    ELSE 0.0 END AS top_bigram_frac,
               (CASE WHEN b.n_tokens > 0
                     THEN 1.0 - b.n_distinct_tokens / b.n_tokens
                     ELSE 0.0 END) <= 0.6
               AND
               (CASE WHEN COALESCE(a.n_bigrams, 0) > 0
                     THEN a.top_bigram_n / a.n_bigrams
                     ELSE 0.0 END) <= 0.2 AS keep
        FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
    """,
    "d19_contamination_check": f"""
        WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        sh AS (SELECT doc_id, list_distinct({_shingles(3)}) AS shs FROM tk),
        bench AS (
          SELECT DISTINCT unnest(shs) AS sh FROM sh WHERE doc_id % 50 = 0
        ),
        corp AS (
          SELECT doc_id, unnest(shs) AS sh FROM sh WHERE doc_id % 50 <> 0
        ),
        agg AS (
          SELECT c.doc_id, COUNT(*) AS n_shingles,
                 COUNT(b.sh) AS n_overlap
          FROM corp c LEFT JOIN bench b ON c.sh = b.sh
          GROUP BY c.doc_id
        )
        -- left join from the full corpus doc list: docs shorter than n
        -- tokens have no shingles and report overlap_frac = 0
        SELECT s.doc_id,
               COALESCE(a.n_shingles, 0) AS n_shingles,
               COALESCE(a.n_overlap, 0) AS n_overlap,
               CASE WHEN COALESCE(a.n_shingles, 0) > 0
                    THEN a.n_overlap / a.n_shingles ELSE 0.0 END AS overlap_frac,
               CASE WHEN COALESCE(a.n_shingles, 0) > 0
                    THEN a.n_overlap / a.n_shingles ELSE 0.0 END >= 0.5 AS contaminated
        FROM sh s LEFT JOIN agg a ON s.doc_id = a.doc_id
        WHERE s.doc_id % 50 <> 0
    """,
    "d20_pii_redaction": f"""
        WITH planted AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0
                      THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                           || '@example.com or 555-'
                           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      ELSE text END AS text
          FROM documents
        )
        SELECT doc_id,
               len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_emails,
               len(regexp_extract_all(text, '{_PII_PHONE}')) AS n_phones,
               regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '[EMAIL]', 'g'),
                              '{_PII_PHONE}', '[PHONE]', 'g') AS text_redacted
        FROM planted
    """,
    "d21_sequence_packing": f"""
        WITH tk AS (
          SELECT doc_id, lang, len({_TOKS}) AS n_tokens FROM documents
        ),
        off AS (
          SELECT doc_id, lang, n_tokens,
                 CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                 AS start_tok
          FROM tk
        )
        SELECT doc_id, lang, n_tokens, start_tok,
               CAST(FLOOR(start_tok / 64.0) AS BIGINT) AS first_window,
               CAST(FLOOR((start_tok + GREATEST(n_tokens, 1) - 1) / 64.0) AS BIGINT)
                 AS last_window
        FROM off
    """,
    "x07_ivf_full_probe": """
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id IN (1, 5, 9)),
        c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        scored AS (
          SELECT q.query_id, c.vec_id,
                 list_dot_product(c.v, q.qv)
                   / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos_sim
          FROM c, q WHERE c.vec_id <> q.query_id
        )
        SELECT query_id, vec_id, cos_sim, rank FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
          FROM scored
        ) WHERE rank <= 5
    """,
    "d22_mixture_resample": f"""
        WITH w(lang, w) AS (VALUES {_MIX_VALUES}),
        c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
        n AS (SELECT COUNT(*) AS total FROM documents),
        acc AS (
          SELECT c.lang,
                 CAST(FLOOR(10000.0 * LEAST(1.0, w.w * 0.5 * n.total / c.cnt)) AS BIGINT)
                 AS accept_bp
          FROM c, n JOIN w ON c.lang = w.lang
        )
        SELECT d.doc_id, d.lang, d.source
        FROM documents d JOIN acc ON d.lang = acc.lang
        WHERE ('0x' || substr(md5(':' || CAST(d.doc_id AS VARCHAR)), 1, 15))::UBIGINT
              % 10000 < accept_bp
    """,
}
