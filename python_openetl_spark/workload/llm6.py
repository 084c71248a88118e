"""Round-4 session-2 LLM-data queries.

- d34: BM25 top-k retrieval over an inverted index
  (operators/retrieval.py) — the sparse complement of the dense ANN
  family (x01–x08) and the retrieval tier of decontamination (e02/e03
  find n-gram overlap; BM25 finds lexical near-matches that share no
  exact n-gram). The query set is derived deterministically from the
  corpus itself (every 211th document's first six tokens), so the
  workload needs no external fixture and scales with sf.
- x09: composed IVF+PQ ANN (the FAISS IVFPQ architecture).
- mm04: single-pass per-modality decode dispatch.
- d35: context-window chunking with overlap.
- e04: the four-stage training-set build composite
  (prepare → chunk → split → shard stats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_openetl_spark.functions.text import tokens
from python_openetl_spark.operators.retrieval import bm25_topk
from python_openetl_spark.workload.llm3 import _TOKS
from python_openetl_spark.operators.materialize import pin
from python_openetl_spark.workload.util import embedding_dim, t, table_rows

#: every Nth document seeds a query
_Q_MOD = 211
#: tokens per derived query
_Q_LEN = 6
_K = 5


def _derived_queries(docs: DataFrame) -> DataFrame:
    return docs.filter(F.col("doc_id") % _Q_MOD == 0).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(tokens("text"), 1, _Q_LEN), " ").alias("qtext"),
    )


def d34_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return bm25_topk(docs, _derived_queries(docs), k=_K)


def x09_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF+PQ ANN (operators/pq.py ivf_pq_topk — the FAISS
    IVFPQ architecture: coarse cell pruning × one-byte ADC codes ×
    exact shortlist re-rank). Driver contract is the x05 pattern:
    exact-anchor rows + an in-plan recall-floor boolean, so a broken
    probe or LUT path (recall 0) hash-mismatches while legitimate ANN
    noise cannot. Tight pinned-recall assertions live in
    tests/test_pq.py.

    All index parameters are DERIVED from the corpus count
    (operators/tuning.py: nlist ~ sqrt(n) with a 0.75 probe fraction;
    ksub ~ n/16 clamped to [16, 256] — the r5 soak showed a pinned
    ksub=16 collapsing to recall 0 at 2000 vectors, the cliff this
    derivation removes; rerank_factor widens as codebooks coarsen).
    A fixture regeneration at a different scale therefore degrades
    recall gracefully instead of flipping the oracle boolean —
    perturbation-tested at 0.5x/2x corpus size in
    tests/test_tuning.py."""
    from python_openetl_spark.operators import similarity
    from python_openetl_spark.operators.pq import ivf_pq_topk
    from python_openetl_spark.operators.tuning import ivf_params, pq_params

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(1, 5, 9)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(emb, queries, k=5).select("query_id", "vec_id")
    n = table_rows(sf_dir, "embeddings")
    dim = embedding_dim(sf_dir)
    approx = ivf_pq_topk(
        emb, queries.toPandas(), k=5, **ivf_params(n), **pq_params(n, dim)
    )
    hits = (
        approx.select("query_id", "vec_id")
        .join(exact, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("k"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.col("k").cast("int").alias("k"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("k") >= 0.2).alias(
                "recall_ok"
            ),
        )
    )


def mm04_modality_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous-corpus modality routing
    (operators/multimodal.py dispatch_modalities): one Arrow pass
    splits each batch by a modality column and runs the matching fake
    decode kernel — image dims from the content hash (the mm02
    device), audio duration / video frame count from byte length.
    Every fake kernel's arithmetic is integer-exact, so the whole
    dispatch (routing, NULL-payload skip, unknown-modality NULLs) is
    value-hash oracle-checked."""
    from python_openetl_spark.operators.multimodal import dispatch_modalities

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video"), F.lit("pdf")),
            # pmod keeps the index in [1,4] for ANY id sign — a plain %
            # on a negative doc_id yields index 0 (runtime error)
            (F.pmod(F.col("doc_id"), F.lit(4)) + 1).cast("int"),
        ).alias("modality"),
    )
    return dispatch_modalities(d, fake=True)


def d35_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (operators/textops.py chunk_documents):
    32-token windows, 8-token overlap — the split step between
    cleaning and packing. Shuffle-free 1→N expansion inside the scan;
    each chunk carries an md5 span fingerprint so chunk-level dedup
    composes with d01."""
    from python_openetl_spark.operators.textops import chunk_documents

    return chunk_documents(
        t(spark, sf_dir, "documents"), chunk_tokens=32, overlap=8
    )


def e04_build_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-set build: e01's preparation composite
    (exact dedup → repetition gate → decontamination → PII redaction)
    → d35's context-window chunking of the REDACTED text → d10's
    deterministic hash split (80/10/10 by document, so every chunk of
    a document lands on one side of the boundary) → per-split shard
    statistics (docs, chunks, tokens, distinct chunk fingerprints —
    the chunk-level dup rate a packing job needs). Four pipeline
    stages, one driver row; every stage keeps its individual scale
    shape and the corpus text crosses the wire only once (the PII
    projection inside prepare_corpus)."""
    from python_openetl_spark.operators import prep
    from python_openetl_spark.operators.sampling import sample_bucket
    from python_openetl_spark.operators.textops import chunk_documents

    d = t(spark, sf_dir, "documents")
    # prepared feeds both the chunker and the split assignment —
    # materialize the composite's output once (r14; its own internal
    # checkpoint covers only the dedup stage, not the final join)
    prepared = prep.prepare_corpus(
        d.filter(F.col("doc_id") % 50 != 0), d.filter(F.col("doc_id") % 50 == 0)
    )
    prepared = pin(prepared)
    chunks = chunk_documents(
        prepared.select("doc_id", F.col("text_redacted").alias("text")),
        chunk_tokens=32,
        overlap=8,
    )
    bucket = sample_bucket(F.col("doc_id"))
    split = prepared.select(
        "doc_id",
        F.when(bucket < 8000, "train")
        .when(bucket < 9000, "val")
        .otherwise("test")
        .alias("split"),
    )
    return (
        chunks.join(split, "doc_id")
        .groupBy("split")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.col("chunk_len").cast("long")).alias("sum_tokens"),
            F.count_distinct("chunk_fp").alias("n_unique_chunks"),
        )
        .orderBy("split")
    )


def d36_incremental_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental inverted-index maintenance
    (operators/retrieval.py update_postings): every 5th document is
    EDITED and re-ingested under its ORIGINAL doc_id — truncated to its
    first ten tokens plus two planted new 'zzz' tokens — so the merge
    exercises the delete-then-insert path, not just append. The output
    states, per term the batch touches, the document frequency before
    and after; a maintenance path that bare-unions (double-counts df
    for every surviving term), drops the wrong postings, or re-scans
    the corpus hash-mismatches. The planted 'zzz' term proves the
    new-to-corpus path (df_before = 0) and the truncation makes most
    edited docs lose terms (df_after < df_before), proving stale
    postings actually left the store."""
    from python_openetl_spark.operators.retrieval import build_postings, update_postings

    d = t(spark, sf_dir, "documents")
    store = build_postings(d)
    batch = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.concat(
            F.array_join(F.slice(tokens("text"), 1, 10), " "), F.lit(" zzz zzz")
        ).alias("text"),
    )
    merged = update_postings(store, batch)
    bvocab = build_postings(batch).select("term").distinct()
    before = (
        store.join(F.broadcast(bvocab), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_before"))
    )
    after = (
        merged.join(F.broadcast(bvocab), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_after"))
    )
    return (
        after.join(before, "term", "left")
        .select(
            "term",
            F.coalesce("df_before", F.lit(0)).alias("df_before"),
            "df_after",
            (F.col("df_after") - F.coalesce("df_before", F.lit(0))).alias("df_delta"),
        )
    )


def x10_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical top-10 and exact dense cosine
    top-10 fused by reciprocal-rank fusion
    (operators/retrieval.py rrf_fuse, k=60) — the standard
    two-tower-search shape where rank fusion sidesteps score
    calibration. Queries are the derived-doc set restricted to ids
    that also carry an embedding, so both rankings exist for every
    query; the lexical side naturally retrieves the query doc itself
    (rank 1) while the dense side excludes self — the oracle mirrors
    both conventions exactly."""
    from python_openetl_spark.operators import similarity
    from python_openetl_spark.operators.retrieval import bm25_topk, rrf_fuse

    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    from python_openetl_spark.operators.materialize import materialize

    # consumed by BOTH towers (lexical query text, dense query-id
    # broadcast); size-adaptive pin — an unconditional checkpoint was
    # measured slower at fixture scale (see bm25_topk's comment)
    qdocs = materialize(
        _derived_queries(docs).join(
            F.broadcast(emb.select(F.col("vec_id").alias("query_id"))), "query_id"
        )
    )
    lexical = bm25_topk(docs, qdocs, k=10)
    dense = similarity.cosine_topk(
        emb,
        emb.join(
            F.broadcast(qdocs.select("query_id")),
            emb.vec_id == F.col("query_id"),
        ).select("query_id", "embedding"),
        k=10,
    ).select("query_id", F.col("vec_id").alias("doc_id"), "rank")
    return rrf_fuse([lexical.select("query_id", "doc_id", "rank"), dense], topk=5)


def d37_curriculum_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-curriculum mixture: documents banded by exact quartiles
    of their unigram-LM score (d32) and resampled per band —
    keep the mid-distribution, thin both tails
    (operators/sampling.py quantile_banded_sample: one broadcast
    threshold row + hash membership, no global sort, no shuffle)."""
    from python_openetl_spark.operators.sampling import quantile_banded_sample
    from python_openetl_spark.operators.textops import unigram_logprob_score

    scored = unigram_logprob_score(t(spark, sf_dir, "documents"))
    out = quantile_banded_sample(
        scored, "avg_neglogp", "doc_id", {1: 0.25, 2: 1.0, 3: 1.0, 4: 0.25}
    )
    return out.select("doc_id", F.col("band").alias("quartile"), "avg_neglogp")


#: Planted-quote id offset for the d38 containment fixture.
_OFF38 = 30_000_000


def d38_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup detection
    (operators/dedup.py containment_pairs): every 9th document gets a
    planted 12-token "quote" excerpt appended to the corpus — wholly
    contained in its source (containment 1.0) but with Jaccard far
    below any symmetric near-dup threshold, i.e. invisible to
    d06/d07/d09. The query returns every (inner, outer) direction
    with containment >= 0.9 over 3-gram shingle-hash sets."""
    from python_openetl_spark.operators.dedup import containment_pairs

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    quotes = d.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + _OFF38).alias("doc_id"),
        F.array_join(F.slice(tokens("text"), 1, 12), " ").alias("text"),
    )
    return containment_pairs(d.unionByName(quotes), threshold=0.9)


QUERIES = {
    "d34_bm25_topk": d34_bm25_topk,
    "d37_curriculum_mixture": d37_curriculum_mixture,
    "d38_containment_pairs": d38_containment_pairs,
    "x10_hybrid_search_rrf": x10_hybrid_search_rrf,
    "d36_incremental_postings": d36_incremental_postings,
    "x09_ivf_pq_topk": x09_ivf_pq_topk,
    "mm04_modality_dispatch": mm04_modality_dispatch,
    "d35_chunk_documents": d35_chunk_documents,
    "e04_build_training_set": e04_build_training_set,
}

# Literals below mirror operators/retrieval.py's expression tree op for
# op (module docstring there has the determinism contract): k1=1.2,
# b=0.75 -> k1+1 = 2.2, 1-b = 0.25 — all exact shortest-repr doubles on
# both parsers.
ORACLE = {
    "d34_bm25_topk": f"""
        WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        stats AS (SELECT COUNT(*) AS n_docs, SUM(len(toks)) AS sum_dl FROM tk),
        dl AS (SELECT doc_id, len(toks) AS dl FROM tk),
        q AS (SELECT doc_id AS query_id, list_slice(toks, 1, {_Q_LEN}) AS qt
              FROM tk WHERE doc_id % {_Q_MOD} = 0),
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
    "x09_ivf_pq_topk": """
        SELECT vec_id AS query_id, CAST(5 AS INT) AS k, TRUE AS recall_ok
        FROM embeddings WHERE vec_id IN (1, 5, 9)
    """,
    # mirrors the fake kernels in operators/multimodal.py: image dims =
    # the mm02 sha-hex device; audio = bytes // 32 (16 kHz mono 16-bit
    # PCM ms); video = ceil(bytes / 64) frames; 'pdf' has no kernel ->
    # NULLs; NULL payload -> NULLs
    "mm04_modality_dispatch": """
        WITH b AS (
          SELECT doc_id,
                 octet_length(encode(text)) AS n,
                 sha256(text) AS hx,
                 -- ((x % 4) + 4) % 4 = Spark's pmod: index stays in
                 -- [1,4] for negative ids too
                 ['image','audio','video','pdf'][(((doc_id % 4) + 4) % 4 + 1)::INT] AS modality
          FROM documents
        )
        SELECT doc_id, modality,
               CAST(CASE WHEN n IS NULL THEN NULL
                    WHEN modality = 'image' THEN 64 + ('0x' || substr(hx, 1, 2))::INT % 192
                    WHEN modality = 'audio' THEN n // 32
                    WHEN modality = 'video' THEN (n + 63) // 64
                    ELSE NULL END AS BIGINT) AS feat_a,
               CAST(CASE WHEN n IS NULL THEN NULL
                    WHEN modality = 'image' THEN 64 + ('0x' || substr(hx, 3, 2))::INT % 192
                    ELSE NULL END AS BIGINT) AS feat_b
        FROM b
    """,
    # mirrors chunk_documents: starts = 1, 1+24, ... up to
    # greatest(n - overlap, 1) inclusive (DuckDB range is end-exclusive
    # -> +1); chunk = 32-token slice; fp = md5 of the space-joined span
    "d35_chunk_documents": f"""
        WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        s AS (
          SELECT doc_id, toks,
                 range(1, greatest(len(toks) - 8, 1) + 1, 24) AS starts
          FROM tk WHERE toks IS NOT NULL
        )
        SELECT doc_id,
               u.idx AS chunk_idx,
               u.st AS start_tok,
               CAST(len(list_slice(toks, u.st, u.st + 31)) AS INT) AS chunk_len,
               -- DuckDB array_to_string([]) is NULL (Spark array_join is '')
               md5(COALESCE(array_to_string(list_slice(toks, u.st, u.st + 31), ' '), '')) AS chunk_fp
        FROM (
          SELECT doc_id, toks,
                 unnest(list_transform(range(1, len(starts) + 1),
                                       i -> {{'idx': (i - 1)::INT, 'st': starts[i]::INT}})) AS u
          FROM s
        )
    """,
}

from python_openetl_spark.workload.llm import _SHINGLES_SQL, _TOKS_SQL  # noqa: E402

ORACLE["d38_containment_pairs"] = f"""
    WITH docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_OFF38} AS doc_id,
             array_to_string(list_slice({_TOKS_SQL}, 1, 12), ' ') AS text
      FROM documents WHERE doc_id % 9 = 0
    ),
    tk AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM docs),
    shx AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM tk),
    shf AS (SELECT doc_id AS doc, sh FROM shx WHERE len(sh) > 0),
    ex AS (
      SELECT DISTINCT doc,
             (('0x' || substr(md5(shingle), 1, 15))::UBIGINT)::BIGINT AS h
      FROM (SELECT doc, unnest(sh) AS shingle FROM shf)
    ),
    sizes AS (SELECT doc, COUNT(*) AS n_sh FROM ex GROUP BY doc),
    common AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS common
      FROM ex a JOIN ex b ON a.h = b.h AND a.doc < b.doc
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT doc_a, doc_b, common, sa.n_sh AS n_a, sb.n_sh AS n_b
      FROM common
      JOIN sizes sa ON sa.doc = doc_a
      JOIN sizes sb ON sb.doc = doc_b
    ),
    both_dirs AS (
      SELECT doc_a AS inner_doc, doc_b AS outer_doc,
             CAST(common AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment
      FROM scored
      UNION ALL
      SELECT doc_b, doc_a, CAST(common AS DOUBLE) / CAST(n_b AS DOUBLE)
      FROM scored
    )
    SELECT inner_doc, outer_doc, containment
    FROM both_dirs WHERE containment >= 0.9
"""

# d37 composes d32's oracle as the scores CTE, exact interpolated
# quartile thresholds (the q59 parity device, rounded to 6), and the
# d24/d10 portable md5 hash-bucket membership
from python_openetl_spark.workload.llm5 import ORACLE as _L5_ORACLE  # noqa: E402

ORACLE["d37_curriculum_mixture"] = f"""
    WITH scores AS ({_L5_ORACLE["d32_unigram_logprob"]}),
    th AS (
      SELECT round(quantile_cont(avg_neglogp, 0.25), 6) AS t0,
             round(quantile_cont(avg_neglogp, 0.5), 6) AS t1,
             round(quantile_cont(avg_neglogp, 0.75), 6) AS t2
      FROM scores
    ),
    banded AS (
      SELECT s.doc_id, s.avg_neglogp,
             1 + (s.avg_neglogp > t.t0)::INT
               + (s.avg_neglogp > t.t1)::INT
               + (s.avg_neglogp > t.t2)::INT AS quartile
      FROM scores s CROSS JOIN th t
    ),
    b AS (
      SELECT *,
             (('0x' || substr(md5(':' || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT)::BIGINT
               % 10000 AS bucket
      FROM banded
    )
    SELECT doc_id, quartile, avg_neglogp FROM b
    WHERE (quartile = 1 AND bucket < 2500)
       OR quartile IN (2, 3)
       OR (quartile = 4 AND bucket < 2500)
"""

ORACLE["x10_hybrid_search_rrf"] = f"""
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
    fused AS (SELECT query_id, doc_id, SUM(c) AS score_dec
              FROM contrib GROUP BY query_id, doc_id)
    SELECT query_id, doc_id, CAST(score_dec AS DOUBLE) AS rrf_score, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY score_dec DESC, doc_id) AS rank
      FROM fused
    ) WHERE rank <= 5
"""

ORACLE["d36_incremental_postings"] = f"""
    WITH store_tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    store AS (
      SELECT term, doc_id, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM store_tk)
      GROUP BY term, doc_id
    ),
    batch AS (
      -- CASE mirrors Spark exactly: NULL text -> NULL (concat of NULL
      -- array_join); EMPTY token list -> ' zzz zzz' (array_join([]) is
      -- '' in Spark but NULL in DuckDB, hence the COALESCE)
      SELECT doc_id,
             CASE WHEN {_TOKS} IS NULL THEN NULL
                  ELSE COALESCE(array_to_string(list_slice({_TOKS}, 1, 10), ' '), '')
                       || ' zzz zzz' END AS text
      FROM documents WHERE doc_id % 5 = 0
    ),
    batch_tk AS (SELECT doc_id, {_TOKS} AS toks FROM batch),
    bpost AS (
      SELECT term, doc_id, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM batch_tk)
      GROUP BY term, doc_id
    ),
    bvocab AS (SELECT DISTINCT term FROM bpost),
    merged AS (
      SELECT * FROM store WHERE doc_id NOT IN (SELECT doc_id FROM batch)
      UNION ALL SELECT * FROM bpost
    ),
    before AS (
      SELECT term, COUNT(*) AS df_before FROM store
      WHERE term IN (SELECT term FROM bvocab) GROUP BY term
    ),
    after AS (
      SELECT term, COUNT(*) AS df_after FROM merged
      WHERE term IN (SELECT term FROM bvocab) GROUP BY term
    )
    SELECT a.term,
           COALESCE(b.df_before, 0) AS df_before,
           a.df_after,
           a.df_after - COALESCE(b.df_before, 0) AS df_delta
    FROM after a LEFT JOIN before b ON a.term = b.term
"""

# e04 composes e01's full preparation oracle as a CTE, then mirrors
# d35's chunking over text_redacted and d24's portable md5 hash-bucket
# device (sample_bucket with empty salt = token_hash60(':' || id)).
from python_openetl_spark.workload.llm3 import ORACLE as _L3_ORACLE  # noqa: E402

ORACLE["e04_build_training_set"] = f"""
    WITH prepared AS ({_L3_ORACLE["e01_prepare_corpus"]}),
    ptk AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text_redacted), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM prepared
    ),
    s AS (
      SELECT doc_id, toks, range(1, greatest(len(toks) - 8, 1) + 1, 24) AS starts
      FROM ptk WHERE toks IS NOT NULL
    ),
    chunks AS (
      SELECT doc_id,
             len(list_slice(toks, u.st, u.st + 31)) AS chunk_len,
             md5(COALESCE(array_to_string(list_slice(toks, u.st, u.st + 31), ' '), '')) AS chunk_fp
      FROM (
        SELECT doc_id, toks,
               unnest(list_transform(range(1, len(starts) + 1),
                                     i -> {{'st': starts[i]::INT}})) AS u
        FROM s
      )
    ),
    split AS (
      SELECT doc_id,
             CASE WHEN b < 8000 THEN 'train'
                  WHEN b < 9000 THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT doc_id,
               (('0x' || substr(md5(':' || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT)::BIGINT
                 % 10000 AS b
        FROM prepared
      )
    )
    SELECT s.split,
           COUNT(DISTINCT c.doc_id) AS n_docs,
           COUNT(*) AS n_chunks,
           CAST(SUM(c.chunk_len) AS BIGINT) AS sum_tokens,
           COUNT(DISTINCT c.chunk_fp) AS n_unique_chunks
    FROM chunks c JOIN split s ON c.doc_id = s.doc_id
    GROUP BY s.split ORDER BY s.split
"""
