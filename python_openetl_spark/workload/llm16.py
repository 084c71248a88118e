"""Round-13 workload additions.

- x28: the persisted postings store's FULL lifecycle in one
  value-hash-oracled row (operators/postings_store.py — r12 verdict
  gap #3, the last dense/sparse asymmetry): build from the whole
  corpus, re-ingest an EDITED batch (delete-then-insert via
  generation-scoped tombstones), tombstone-delete a slice, then answer
  BM25 top-k from the store. The DuckDB oracle scores the equivalent
  reconstructed corpus state with the d34 expression tree — a store
  that double-counts an edited doc's postings, resurrects a deleted
  doc, drops the wrong generation, or breaks the bucket-pruned scan
  hash-mismatches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_openetl_spark.functions.text import tokens
from python_openetl_spark.workload.llm3 import _TOKS
from python_openetl_spark.workload.llm6 import _K, _Q_LEN, _Q_MOD, _derived_queries
from python_openetl_spark.workload.util import corpus_memo, scratch, t

#: batch/delete slices: every 5th doc is EDITED and re-ingested under
#: its original id (the d36 device — truncation sheds terms, planted
#: 'zzz' adds one); every 7th doc is DELETED after the append, so ids
#: divisible by 35 exercise edit-then-delete (the tombstone must hide
#: the EDITED generation too).
_EDIT_MOD = 5
_DEL_MOD = 7


def _edited_batch(docs: DataFrame) -> DataFrame:
    return docs.filter(F.col("doc_id") % _EDIT_MOD == 0).select(
        "doc_id",
        F.concat(
            F.array_join(F.slice(tokens("text"), 1, 10), " "),
            F.lit(" zzz zzz"),
        ).alias("text"),
    )


def _x28_store(spark: SparkSession, sf_dir: str) -> str:
    from python_openetl_spark.operators.postings_store import (
        append_to_postings_store,
        build_postings_store,
        delete_from_postings_store,
    )

    def build() -> str:
        docs = t(spark, sf_dir, "documents").select("doc_id", "text")
        root = scratch("x28") + "/postings"
        build_postings_store(docs, root)
        append_to_postings_store(_edited_batch(docs), root)
        delete_from_postings_store(
            spark, root, where=f"doc_id % {_DEL_MOD} = 0"
        )
        return root

    # an index is amortized infrastructure (the x15 rule): bench
    # repeats measure the probe path
    return corpus_memo("x28", sf_dir, build)


def x28_postings_store_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k answered FROM the persisted store after
    build → edited-batch re-ingest → delete (docstring above; store
    built once per session, probes measured on repeats). Queries are
    d34's corpus-derived set (every {_Q_MOD}th doc's first {_Q_LEN}
    tokens, taken from the ORIGINAL corpus — the query set is
    independent of the store's mutation history)."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    root = _x28_store(spark, sf_dir)
    from python_openetl_spark.operators.postings_store import (
        postings_store_topk,
    )

    return postings_store_topk(spark, root, _derived_queries(docs), k=_K)


#: x29 phrase seeds: every _Q_MOD-th doc's tokens 3..8 (middle of the
#: doc, so the phrase is not a shared prefix), 6 tokens
_PH_START = 3
_PH_LEN = 6


def _x29_store(spark: SparkSession, sf_dir: str) -> str:
    from python_openetl_spark.operators.postings_store import (
        build_positional_postings_store,
    )

    def build() -> str:
        docs = t(spark, sf_dir, "documents").select("doc_id", "text")
        root = scratch("x29") + "/positional"
        build_positional_postings_store(docs, root)
        return root

    return corpus_memo("x29", sf_dir, build)


def x29_phrase_store_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim-quote decontamination sweep over the POSITIONAL
    postings store (operators/postings_store.py
    postings_store_phrase): each probe phrase is a 6-token span from
    the MIDDLE of every {_Q_MOD}th document; the result lists every
    corpus document containing that exact contiguous token sequence —
    the seed doc itself plus any verbatim duplicates/quotes. Pure
    integer/set arithmetic, so the DuckDB oracle (boundary-safe
    substring over the space-joined token stream — exact because
    tokens contain no spaces) matches bit-for-bit."""
    from python_openetl_spark.operators.postings_store import (
        postings_store_phrase,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    phrases = docs.filter(F.col("doc_id") % _Q_MOD == 0).select(
        F.col("doc_id").alias("phrase_id"),
        F.array_join(
            F.slice(tokens("text"), _PH_START, _PH_LEN), " "
        ).alias("ptext"),
    )
    root = _x29_store(spark, sf_dir)
    return postings_store_phrase(spark, root, phrases)


QUERIES = {
    "x28_postings_store_topk": x28_postings_store_topk,
    "x29_phrase_store_contamination": x29_phrase_store_contamination,
}

# The oracle reconstructs the store's final corpus state relationally
# (original docs, minus the deleted slice, with the edited slice's
# text replaced by the same truncate+plant expression d36 pins), then
# scores it with d34's exact BM25 expression tree. Queries come from
# the ORIGINAL documents (deleted docs may still seed queries — they
# just can't be hits).
ORACLE = {
    "x28_postings_store_topk": f"""
        WITH eff AS (
          SELECT doc_id,
                 CASE WHEN doc_id % {_EDIT_MOD} = 0 THEN
                   CASE WHEN {_TOKS} IS NULL THEN NULL
                        ELSE COALESCE(array_to_string(list_slice({_TOKS}, 1, 10), ' '), '')
                             || ' zzz zzz' END
                 ELSE text END AS text
          FROM documents WHERE doc_id % {_DEL_MOD} <> 0
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

# x29: a doc contains the phrase iff the phrase's token sequence
# appears CONTIGUOUSLY in the doc's token stream — equivalently, the
# space-joined token string contains ' phrase ' with boundary spaces
# (exact, because the tokenizer guarantees tokens contain no spaces
# and no LIKE metacharacters: [a-z0-9]+ only). NULL/short seed docs
# yield NULL/empty phrases, which match nothing on either side.
ORACLE["x29_phrase_store_contamination"] = f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    ph AS (
      SELECT doc_id AS phrase_id,
             array_to_string(list_slice(toks, {_PH_START}, {_PH_START + _PH_LEN - 1}), ' ') AS phrase
      FROM tk WHERE doc_id % {_Q_MOD} = 0
    )
    SELECT p.phrase_id, t.doc_id
    FROM ph p, tk t
    WHERE p.phrase IS NOT NULL AND p.phrase <> ''
      AND (' ' || array_to_string(t.toks, ' ') || ' ')
          LIKE ('% ' || p.phrase || ' %')
    ORDER BY phrase_id, doc_id
"""
