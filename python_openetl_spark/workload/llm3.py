"""Round-2 wave-2 LLM-data queries: incremental corpus growth, training
order, and the end-to-end preparation composite.

- d23: :func:`operators.dedup.incremental_dedup` — a new batch classified
  against the existing corpus' fingerprint store (dup_of_store /
  dup_in_batch / new), the nightly-ingest shape where the historical
  corpus is never re-read.
- d24: :func:`operators.prep.training_shuffle` — deterministic
  content-hash global shuffle into shards (reproducible training order
  without ``orderBy(rand())`` or a global sort).
- e01: :func:`operators.prep.prepare_corpus` — dedup → quality gate →
  contamination gate → PII redaction as ONE composite verb, the
  pipeline a training-data system runs end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_openetl_spark.operators import dedup, prep
from python_openetl_spark.workload.util import t

#: Offset separating re-submitted / fresh doc ids from the base corpus.
_OFF = 10_000_000

#: DuckDB twin of functions.text.fingerprint (md5 of normalized text).
_FP_SQL = "md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))"

#: DuckDB twin of functions.text.tokens / text_shingles (see llm.py).
_TOKS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"


def _shingles(n: int) -> str:
    return f"""
      CASE WHEN len(toks) >= {n}
           THEN list_transform(range(1, len(toks) - {n - 2}),
                               i -> array_to_string(list_slice(toks, i, i + {n - 1}), ' '))
           ELSE [] END
    """


def d23_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly-ingest dedup: the full documents table is the existing
    store; the batch re-submits every 5th doc verbatim (dup_of_store)
    and submits every 7th doc with fresh content twice under two new
    ids (the smaller wins 'new', the larger 'dup_in_batch')."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    resub = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + _OFF).alias("doc_id"), "text"
    )
    fresh = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2 * _OFF).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qqq")).alias("text"),
    )
    fresh_again = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 3 * _OFF).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qqq")).alias("text"),
    )
    from python_openetl_spark.functions.text import fingerprint

    batch = resub.unionByName(fresh).unionByName(fresh_again)
    store = d.select(fingerprint("text").alias("fp")).distinct()
    return dedup.incremental_dedup(batch, store)


def d24_training_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training order: 16 shards, position by content
    hash — stable under any partitioning and reproducible by SQL."""
    out = prep.training_shuffle(t(spark, sf_dir, "documents"), num_shards=16)
    return out.select("doc_id", "shard", "pos")


def e01_prepare_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full preparation composite over the documents table, with
    every 50th doc standing in for the held-out benchmark (as d19)."""
    d = t(spark, sf_dir, "documents")
    return prep.prepare_corpus(
        d.filter(F.col("doc_id") % 50 != 0),
        d.filter(F.col("doc_id") % 50 == 0),
    )


QUERIES = {
    "d23_incremental_dedup": d23_incremental_dedup,
    "d24_training_shuffle": d24_training_shuffle,
    "e01_prepare_corpus": e01_prepare_corpus,
}

_PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PII_PHONE = "\\b555-[0-9]{4}\\b"

ORACLE = {
    "d23_incremental_dedup": f"""
        WITH store AS (SELECT DISTINCT {_FP_SQL} AS fp FROM documents),
        batch AS (
          SELECT doc_id + {_OFF} AS doc_id, text FROM documents WHERE doc_id % 5 = 0
          UNION ALL
          SELECT doc_id + {2 * _OFF}, text || ' qqq' FROM documents WHERE doc_id % 7 = 0
          UNION ALL
          SELECT doc_id + {3 * _OFF}, text || ' qqq' FROM documents WHERE doc_id % 7 = 0
        ),
        fp AS (SELECT doc_id, {_FP_SQL} AS fp FROM batch),
        first AS (SELECT fp, MIN(doc_id) AS first_id FROM fp GROUP BY fp)
        SELECT b.doc_id, b.fp,
               CASE WHEN s.fp IS NOT NULL THEN 'dup_of_store'
                    WHEN b.doc_id <> f.first_id THEN 'dup_in_batch'
                    ELSE 'new' END AS status
        FROM fp b
        JOIN first f ON b.fp IS NOT DISTINCT FROM f.fp
        LEFT JOIN store s ON b.fp IS NOT DISTINCT FROM s.fp
    """,
    "d24_training_shuffle": """
        WITH h AS (
          SELECT doc_id,
                 (('0x' || substr(md5(':' || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT)::BIGINT AS h
          FROM documents
        )
        SELECT doc_id, CAST(h % 16 AS INT) AS shard,
               CAST(ROW_NUMBER() OVER (PARTITION BY h % 16 ORDER BY h, doc_id) - 1 AS INT) AS pos
        FROM h
    """,
    "e01_prepare_corpus": f"""
        WITH docs AS (SELECT * FROM documents WHERE doc_id % 50 <> 0),
        bench AS (SELECT * FROM documents WHERE doc_id % 50 = 0),
        fp AS (SELECT doc_id, {_FP_SQL} AS fp FROM docs),
        keepers AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY fp),
        kept AS (SELECT d.* FROM docs d JOIN keepers k ON d.doc_id = k.doc_id),
        tk AS (SELECT doc_id, {_TOKS} AS toks FROM kept),
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
        bagg AS (
          SELECT doc_id, MAX(c) AS top_bigram_n, CAST(SUM(c) AS BIGINT) AS n_bigrams
          FROM bg GROUP BY doc_id
        ),
        quality AS (
          SELECT b.doc_id, b.n_tokens
          FROM base b LEFT JOIN bagg a ON b.doc_id = a.doc_id
          WHERE (CASE WHEN b.n_tokens > 0
                      THEN 1.0 - b.n_distinct_tokens / b.n_tokens
                      ELSE 0.0 END) <= 0.6
            AND (CASE WHEN COALESCE(a.n_bigrams, 0) > 0
                      THEN a.top_bigram_n / a.n_bigrams
                      ELSE 0.0 END) <= 0.2
        ),
        btk AS (SELECT {_TOKS} AS toks FROM bench),
        bsh AS (SELECT DISTINCT unnest({_shingles(3)}) AS sh FROM btk),
        csh AS (SELECT doc_id, unnest(list_distinct({_shingles(3)})) AS sh FROM tk),
        cagg AS (
          SELECT c.doc_id, COUNT(*) AS n_shingles, COUNT(b.sh) AS n_overlap
          FROM csh c LEFT JOIN bsh b ON c.sh = b.sh
          GROUP BY c.doc_id
        ),
        -- docs shorter than n tokens have no shingles: trivially
        -- uncontaminated (overlap_frac = 0), they pass the gate
        cont AS (
          SELECT t.doc_id,
                 CASE WHEN COALESCE(a.n_shingles, 0) > 0
                      THEN a.n_overlap / a.n_shingles ELSE 0.0 END AS overlap_frac
          FROM tk t LEFT JOIN cagg a ON t.doc_id = a.doc_id
          WHERE CASE WHEN COALESCE(a.n_shingles, 0) > 0
                     THEN a.n_overlap / a.n_shingles ELSE 0.0 END < 0.5
        )
        SELECT k.doc_id, k.lang, k.source, k.n_chars,
               len(regexp_extract_all(k.text, '{_PII_EMAIL}')) AS n_emails,
               len(regexp_extract_all(k.text, '{_PII_PHONE}')) AS n_phones,
               regexp_replace(regexp_replace(k.text, '{_PII_EMAIL}', '[EMAIL]', 'g'),
                              '{_PII_PHONE}', '[PHONE]', 'g') AS text_redacted,
               q.n_tokens, c.overlap_frac
        FROM kept k
        JOIN quality q ON k.doc_id = q.doc_id
        JOIN cont c ON k.doc_id = c.doc_id
    """,
}
