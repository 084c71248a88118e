"""Round-14 workload additions.

- m24: ONE-call CDC maintenance of the persisted postings store
  (operators/postings_store.py apply_cdc_to_postings_store — the
  m12/m23 change-data-capture pattern applied to the inverted index):
  a single batch of ``(op, doc_id, text)`` rows deletes, edits and
  inserts documents, then BM25 top-k is answered FROM the store. The
  DuckDB oracle scores the CDC-resolved corpus state with the shared
  expression tree — a store that misapplies any op class
  hash-mismatches.
- e12: the decontamination sweep END TO END — the composite verb x29's
  probe exists for: probe the positional store with the eval-item
  phrases, drop every corpus document that quotes one verbatim (the
  seed document itself is the eval item, not contamination), and emit
  the per-source clean-corpus report a dataset card needs.

Reference parity: the reference (tmccall8829/python-openetl) has no
retrieval/decontamination surface; these extend its incremental-sync
delta architecture (operations.py:515-609) — BASELINE.json north-star
extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_openetl_spark.functions.text import tokens
from python_openetl_spark.workload.llm3 import _TOKS
from python_openetl_spark.workload.llm6 import _K, _Q_LEN, _Q_MOD, _derived_queries
from python_openetl_spark.workload.llm16 import _PH_LEN, _PH_START, _x29_store
from python_openetl_spark.workload.util import corpus_memo, scratch, t

#: m24 CDC slices (disjoint by construction — the batch is unique on
#: doc_id, merge.apply_cdc's per-key-compacted contract): every 7th
#: doc is DELETED; every 5th (not 7th) is UPDATED to the d36/x28
#: truncate+plant text; every 211th (not 5th or 7th) INSERTS a fresh
#: doc under id+10^9 with the first 5 tokens of its seed's text.
_DEL_MOD = 7
_UPD_MOD = 5
_INS_MOD = 211
_INS_OFFSET = 1_000_000_000
_INS_LEN = 5


def _m24_cdc_batch(docs: DataFrame) -> DataFrame:
    """The deterministic CDC feed: (op, doc_id, text)."""
    dels = docs.filter(F.col("doc_id") % _DEL_MOD == 0).select(
        F.lit("D").alias("op"),
        "doc_id",
        F.lit(None).cast("string").alias("text"),
    )
    upds = docs.filter(
        (F.col("doc_id") % _UPD_MOD == 0) & (F.col("doc_id") % _DEL_MOD != 0)
    ).select(
        F.lit("U").alias("op"),
        "doc_id",
        F.concat(
            F.array_join(F.slice(tokens("text"), 1, 10), " "),
            F.lit(" zzz zzz"),
        ).alias("text"),
    )
    ins = docs.filter(
        (F.col("doc_id") % _INS_MOD == 0)
        & (F.col("doc_id") % _UPD_MOD != 0)
        & (F.col("doc_id") % _DEL_MOD != 0)
    ).select(
        F.lit("I").alias("op"),
        (F.col("doc_id") + F.lit(_INS_OFFSET)).alias("doc_id"),
        F.array_join(F.slice(tokens("text"), 1, _INS_LEN), " ").alias("text"),
    )
    return dels.unionByName(upds).unionByName(ins)


def _m24_store(spark: SparkSession, sf_dir: str) -> str:
    from python_openetl_spark.operators.postings_store import (
        apply_cdc_to_postings_store,
        build_postings_store,
    )

    def build() -> str:
        docs = t(spark, sf_dir, "documents").select("doc_id", "text")
        root = scratch("m24") + "/postings"
        build_postings_store(docs, root)
        apply_cdc_to_postings_store(_m24_cdc_batch(docs), root)
        return root

    return corpus_memo("m24", sf_dir, build)


def m24_postings_cdc_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k answered FROM the store after ONE CDC batch applied
    every op class at once (module docstring; store built once per
    session — repeats measure the probe path, the x15/x28 rule).
    Queries are d34's corpus-derived set over the ORIGINAL documents
    (query derivation is independent of the store's mutation
    history)."""
    from python_openetl_spark.operators.postings_store import (
        postings_store_topk,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    root = _m24_store(spark, sf_dir)
    return postings_store_topk(spark, root, _derived_queries(docs), k=_K)


def e12_decontaminated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source clean-corpus report after a verbatim-quote
    decontamination sweep: x29's phrase probe finds every document
    containing an eval-item phrase (each eval item = the 6-token
    middle span of every {_Q_MOD}th doc, x29's derivation); a doc is
    CONTAMINATED when it quotes a phrase whose seed is a DIFFERENT
    document (the seed itself IS the eval item). Output per source:
    documents scanned, contaminated, clean, and the clean corpus'
    token count — the numbers a dataset card reports after the sweep.
    Shares x29's memoized positional store; the hit set is
    phrase-bounded (broadcast-sized anti-join against the corpus)."""
    from python_openetl_spark.operators.postings_store import (
        postings_store_phrase,
    )

    docs = t(spark, sf_dir, "documents")
    phrases = docs.filter(F.col("doc_id") % _Q_MOD == 0).select(
        F.col("doc_id").alias("phrase_id"),
        F.array_join(
            F.slice(tokens("text"), _PH_START, _PH_LEN), " "
        ).alias("ptext"),
    )
    root = _x29_store(spark, sf_dir)
    hits = postings_store_phrase(spark, root, phrases)
    contaminated = (
        hits.filter(F.col("phrase_id") != F.col("doc_id"))
        .select("doc_id")
        .distinct()
        .withColumn("__bad", F.lit(1))
    )
    return (
        docs.join(F.broadcast(contaminated), "doc_id", "left")
        .withColumn("__bad", F.coalesce(F.col("__bad"), F.lit(0)))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__bad").alias("n_contaminated"),
            F.sum(F.lit(1) - F.col("__bad")).alias("n_clean"),
            F.sum(
                F.when(
                    F.col("__bad") == 0,
                    F.coalesce(F.size(tokens("text")), F.lit(0)),
                ).otherwise(0)
            ).alias("clean_tokens"),
        )
        .orderBy("source")
    )


QUERIES = {
    "m24_postings_cdc_maintenance": m24_postings_cdc_maintenance,
    "e12_decontaminated_corpus": e12_decontaminated_corpus,
}

# m24 oracle: resolve the CDC batch relationally (delete slice gone,
# update slice's text replaced by the same truncate+plant expression,
# insert slice appended under offset ids), score with the shared BM25
# tree (d34/x28's), queries from the ORIGINAL documents.
ORACLE = {
    "m24_postings_cdc_maintenance": f"""
        WITH eff AS (
          SELECT doc_id,
                 CASE WHEN doc_id % {_UPD_MOD} = 0 THEN
                   CASE WHEN {_TOKS} IS NULL THEN NULL
                        ELSE COALESCE(array_to_string(list_slice({_TOKS}, 1, 10), ' '), '')
                             || ' zzz zzz' END
                 ELSE text END AS text
          FROM documents WHERE doc_id % {_DEL_MOD} <> 0
          UNION ALL
          SELECT doc_id + {_INS_OFFSET} AS doc_id,
                 array_to_string(list_slice({_TOKS}, 1, {_INS_LEN}), ' ') AS text
          FROM documents
          WHERE doc_id % {_INS_MOD} = 0
            AND doc_id % {_UPD_MOD} <> 0 AND doc_id % {_DEL_MOD} <> 0
        ),
        tk AS (SELECT doc_id, {_TOKS} AS toks FROM eff),
        stats AS (SELECT COUNT(*) AS n_docs, SUM(len(toks)) AS sum_dl FROM tk),
        dl AS (SELECT doc_id, len(toks) AS dl FROM tk),
        q AS (SELECT doc_id AS query_id, list_slice({_TOKS}, 1, {_Q_LEN}) AS qt
              FROM documents WHERE doc_id % {_Q_MOD} = 0),
        qterms AS (SELECT DISTINCT query_id, unnest(qt) AS term FROM q),
        qvocab AS (SELECT DISTINCT term FROM qterms),
        post AS (
          SELECT term, doc_id, COUNT(*) AS tf FROM (
            SELECT doc_id, unnest(toks) AS term FROM tk
          ) WHERE term IN (SELECT term FROM qvocab)
          GROUP BY term, doc_id
        ),
        dfreq AS (SELECT term, COUNT(*) AS df FROM post GROUP BY term),
        scored AS (
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
        )
        SELECT query_id, doc_id, CAST(score_dec AS DOUBLE) AS score, rank FROM (
          SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY query_id ORDER BY score_dec DESC, doc_id) AS rank
          FROM scored
        ) WHERE rank <= {_K}
    """,
}

# e12 oracle: x29's boundary-safe substring containment (exact — the
# tokenizer emits [a-z0-9]+ only) gives the hit set; contamination
# excludes the phrase's own seed doc; the report aggregates the rest.
ORACLE["e12_decontaminated_corpus"] = f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    ph AS (
      SELECT doc_id AS phrase_id,
             array_to_string(list_slice(toks, {_PH_START}, {_PH_START + _PH_LEN - 1}), ' ') AS phrase
      FROM tk WHERE doc_id % {_Q_MOD} = 0
    ),
    bad AS (
      SELECT DISTINCT t.doc_id
      FROM ph p, tk t
      WHERE p.phrase IS NOT NULL AND p.phrase <> ''
        AND p.phrase_id <> t.doc_id
        AND (' ' || array_to_string(t.toks, ' ') || ' ')
            LIKE ('% ' || p.phrase || ' %')
    )
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           CAST(SUM(CASE WHEN b.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
           CAST(SUM(CASE WHEN b.doc_id IS NULL
                    THEN COALESCE(len({_TOKS}), 0) ELSE 0 END) AS BIGINT) AS clean_tokens
    FROM documents d LEFT JOIN bad b USING (doc_id)
    GROUP BY d.source
    ORDER BY d.source
"""
