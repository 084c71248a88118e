"""Round-4 LLM-data-pipeline queries.

d31: leakage-safe train/val/test split — the contamination-control
step between dedup (d12/d13) and sampling (d10/d24): split membership
is decided per dup-CLUSTER so near-duplicate pairs can never straddle
the train/eval boundary. d32: unigram-LM quality scoring — the
corpus-distribution filter proxy one tier above d04's surface
heuristics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_openetl_spark.workload.llm import (
    _COMPONENTS_SQL,
    _TOKS_SQL,
    _TWINS_SQL,
    _band_rows_sql,
    _docs_with_twins,
    _jaccard_pairs,
    _minhash_sig_sql,
)
from python_openetl_spark.workload.llm4 import _BANDS_OF, _SHINGLES3_SQL
from python_openetl_spark.workload.util import t

#: Planted-doc id offset for the e02/e03 contamination fixtures.
_E_OFF = 10_000_000


def d31_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level train/val/test assignment over the twinned corpus
    (same dup structure d12 resolves): every document inherits its dup
    cluster representative's hash bucket, so a near-dup pair always
    lands on one side of the split. Composition of d12's connected
    components + d10's deterministic hash bucketing."""
    from python_openetl_spark.operators.sampling import leakage_safe_split

    docs = _docs_with_twins(spark, sf_dir)
    return leakage_safe_split(docs, _jaccard_pairs(spark, sf_dir))


def d32_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score per document (textops module docstring
    has the determinism + scale notes)."""
    from python_openetl_spark.operators.textops import unigram_logprob_score

    return unigram_logprob_score(t(spark, sf_dir, "documents"))


def d33_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch heavy hitters (operators/sketches.py): exact
    top-20 tokens annotated with their CMS estimates. The sketch's
    row-salted md5 hashing is engine-portable, so the oracle rebuilds
    the IDENTICAL sketch in SQL and the driver hash-checks actual
    sketch contents — plus the in-plan one-sided guarantee boolean."""
    from python_openetl_spark.operators.sketches import cms_heavy_hitters

    return cms_heavy_hitters(t(spark, sf_dir, "documents"))


def _bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 50th doc stands in for the held-out benchmark (the
    d19/e01 convention)."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return d.filter(F.col("doc_id") % 50 == 0)


def e02_exact_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring decontamination (prep.exact_contamination): the
    corpus is the non-benchmark docs PLUS one planted quoting doc per
    benchmark item (the benchmark text wrapped in filler), so the
    verbatim-quote positive path is exercised, not just the all-clean
    negative."""
    from python_openetl_spark.operators import prep

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = _bench(spark, sf_dir)
    planted = bench.select(
        (F.col("doc_id") + _E_OFF).alias("doc_id"),
        F.concat(F.lit("quoted verbatim "), F.col("text"), F.lit(" end quote")).alias(
            "text"
        ),
    )
    corpus = d.filter(F.col("doc_id") % 50 != 0).unionByName(planted)
    return prep.exact_contamination(corpus, bench)


def e03_neardup_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus near-dup decontamination
    (prep.neardup_contamination): planted docs are lightly-EDITED
    benchmark copies (suffix appended — the d06 twin device), which
    exact matching misses but MinHash bands catch."""
    from python_openetl_spark.operators import prep

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = _bench(spark, sf_dir)
    planted = bench.select(
        (F.col("doc_id") + _E_OFF).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
    )
    corpus = d.filter(F.col("doc_id") % 50 != 0).unionByName(planted)
    return prep.neardup_contamination(corpus, bench)


QUERIES = {
    "d31_leakage_safe_split": d31_leakage_safe_split,
    "d32_unigram_logprob": d32_unigram_logprob,
    "d33_cms_heavy_hitters": d33_cms_heavy_hitters,
    "e02_exact_contamination": e02_exact_contamination,
    "e03_neardup_contamination": e03_neardup_contamination,
}

ORACLE = {
    # comps = the exact recursive-CTE transitive closure d12 uses;
    # bucket = the d10 md5 device over the representative id
    "d31_leakage_safe_split": f"""
        WITH comps AS ({_COMPONENTS_SQL}),
        docs AS ({_TWINS_SQL}),
        rep AS (
          SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS rep_id
          FROM docs d LEFT JOIN comps c ON d.doc_id = c.id
        ),
        b AS (
          SELECT doc_id, rep_id,
                 ('0x' || substr(md5(':' || rep_id::VARCHAR), 1, 15))::UBIGINT
                   % 10000 AS bucket
          FROM rep
        )
        SELECT doc_id, rep_id,
               CASE WHEN bucket < 1000 THEN 'test'
                    WHEN bucket < 2000 THEN 'val'
                    ELSE 'train' END AS split
        FROM b
    """,
    "d32_unigram_logprob": f"""
        WITH tk AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
        ex AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
        freq AS (SELECT tok, COUNT(*) AS n FROM ex GROUP BY tok),
        tot AS (SELECT COUNT(*) AS total FROM ex),
        scored AS (
          SELECT e.doc_id, round(-ln(f.n::DOUBLE / t.total), 9) AS nlp
          FROM ex e JOIN freq f USING (tok) CROSS JOIN tot t
        ),
        agg AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                 round(CAST(SUM(CAST(nlp AS DECIMAL(24,12))) AS DOUBLE)
                       / COUNT(*), 6) AS avg_neglogp
          FROM scored GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(n_tokens, 0) AS n_tokens,
               COALESCE(avg_neglogp, 0.0) AS avg_neglogp
        FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
    """,
    # the oracle rebuilds the sketch itself: same row-salted 60-bit md5
    # buckets, same depth=4/width=2048, so cms_est matches bit-for-bit
    "d33_cms_heavy_hitters": f"""
        WITH tk AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
        ex AS (SELECT unnest(toks) AS tok FROM tk),
        js AS (SELECT unnest(range(4)) AS j),
        cells AS (
          SELECT j,
                 ('0x' || substr(md5('cms' || j || ':' || tok), 1, 15))::UBIGINT
                   % 2048 AS bucket
          FROM ex CROSS JOIN js
        ),
        cms AS (SELECT j, bucket, COUNT(*) AS cnt FROM cells GROUP BY j, bucket),
        top AS (
          SELECT tok, CAST(COUNT(*) AS BIGINT) AS true_count
          FROM ex GROUP BY tok
          ORDER BY true_count DESC, tok LIMIT 20
        ),
        probes AS (
          SELECT t.tok, t.true_count, js.j,
                 ('0x' || substr(md5('cms' || js.j || ':' || t.tok), 1, 15))::UBIGINT
                   % 2048 AS bucket
          FROM top t CROSS JOIN js
        ),
        est AS (
          SELECT p.tok, p.true_count,
                 CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS cms_est
          FROM probes p LEFT JOIN cms c ON p.j = c.j AND p.bucket = c.bucket
          GROUP BY p.tok, p.true_count
        )
        SELECT tok, true_count, cms_est,
               cms_est >= true_count AS overestimates
        FROM est
    """,
    "e02_exact_contamination": f"""
        WITH base AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
          UNION ALL
          SELECT doc_id + {_E_OFF} AS doc_id,
                 'quoted verbatim ' || text || ' end quote' AS text
          FROM documents WHERE doc_id % 50 = 0
        ),
        norm_bench AS (
          SELECT trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS needle
          FROM documents WHERE doc_id % 50 = 0
        ),
        needles AS (
          SELECT DISTINCT needle FROM norm_bench WHERE length(needle) >= 20
        ),
        hay AS (
          SELECT doc_id,
                 trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nt
          FROM base
        ),
        hits AS (
          SELECT h.doc_id, CAST(COUNT(n.needle) AS BIGINT) AS n_exact_hits
          FROM hay h LEFT JOIN needles n ON instr(h.nt, n.needle) > 0
          GROUP BY h.doc_id
        )
        SELECT doc_id, n_exact_hits, n_exact_hits > 0 AS contaminated
        FROM hits
    """,
    "e03_neardup_contamination": f"""
        WITH corpus AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
          UNION ALL
          SELECT doc_id + {_E_OFF} AS doc_id, text || ' zzz' AS text
          FROM documents WHERE doc_id % 50 = 0
        ),
        bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
        cb AS (
          WITH {{cbands}}
          SELECT doc, band, k1, k2 FROM bands
        ),
        bb AS (
          WITH {{bbands}}
          SELECT DISTINCT doc AS bench_doc, band, k1, k2 FROM bands
        ),
        hits AS (
          SELECT c.doc, CAST(COUNT(DISTINCT b.bench_doc) AS BIGINT) AS n
          FROM cb c JOIN bb b ON c.band = b.band AND c.k1 = b.k1 AND c.k2 = b.k2
          GROUP BY c.doc
        )
        SELECT d.doc_id,
               COALESCE(n, 0) AS n_bench_neardups,
               COALESCE(n, 0) > 0 AS contaminated
        FROM corpus d LEFT JOIN hits ON d.doc_id = hits.doc
    """.format(
        cbands=_BANDS_OF.format(
            toks=_TOKS_SQL, sh=_SHINGLES3_SQL, src="corpus",
            sig=_minhash_sig_sql(16), bands=_band_rows_sql(4, 4),
        ),
        bbands=_BANDS_OF.format(
            toks=_TOKS_SQL, sh=_SHINGLES3_SQL, src="bench",
            sig=_minhash_sig_sql(16), bands=_band_rows_sql(4, 4),
        ),
    ),
}
