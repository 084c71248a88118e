"""Round-5 LLM-data additions: corpus governance + linkage operators.

- d42: k-anonymity audit over document metadata (operators/privacy.py)
  — the re-identification-risk complement of d20's direct-PII
  redaction.
- d39: canonical-URL dedup (functions/urls.py + operators/urlops.py)
  — URLs synthesized deterministically from doc_id in four messy
  variants plus planted twin rows, collapsed by the canonicalization
  contract; the oracle mirrors every regexp step (backreference-free
  patterns run verbatim on both engines; DuckDB needs the 'g' flag
  Spark implies).
- d44: per-domain cap sampling — deterministic hash-order keep of at
  most N docs per registrable domain (the mega-domain rebalancing step
  of web-corpus curation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_openetl_spark.functions.text import tokens
from python_openetl_spark.workload.util import t

#: planted-twin id offset for d39 (the d38/_OFF convention)
_OFF39 = 50_000_000


def _messy_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic messy-URL corpus: every doc gets one of four
    surface variants of ``https://www.site{id%37}.com/page/{id}``; every
    10th doc also re-appears as an id-offset twin with a DIFFERENT
    surface form of the same canonical URL."""
    d = t(spark, sf_dir, "documents").select("doc_id")
    base_up = F.concat(
        F.lit("https://WWW.Site"),
        (F.col("doc_id") % 37).cast("string"),
        F.lit(".COM/page/"),
        F.col("doc_id").cast("string"),
    )
    v = F.col("doc_id") % 4
    url = (
        F.when(v == 0, F.concat(base_up, F.lit("?utm_source=feed&id="), F.col("doc_id").cast("string")))
        .when(v == 1, F.concat(base_up, F.lit("/")))
        .when(v == 2, F.concat(base_up, F.lit("#frag")))
        .otherwise(F.concat(base_up, F.lit("?id="), F.col("doc_id").cast("string")))
    )
    orig = d.select("doc_id", url.alias("url"))
    tbase = F.concat(
        F.lit("https://www.site"),
        (F.col("doc_id") % 37).cast("string"),
        F.lit(".com/page/"),
        F.col("doc_id").cast("string"),
    )
    twin_url = F.concat(
        tbase,
        F.when(
            (F.col("doc_id") % 4).isin(0, 3),
            F.concat(F.lit("?id="), F.col("doc_id").cast("string"), F.lit("&utm_term=z")),
        ).otherwise(F.lit("/#x")),
    )
    twins = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + _OFF39).alias("doc_id"), twin_url.alias("url")
    )
    return orig.unionByName(twins)


def d39_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_openetl_spark.operators.urlops import url_dedup

    return url_dedup(_messy_urls(spark, sf_dir))


#: d40 synthetic link graph: node space and edge multipliers
_PR_MOD = 997
_PR_EDGES = ((7, 3), (13, 5))
_PR_ITERS = 3
_PR_DAMPING = 0.85


def _link_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic document link graph: each doc contributes edges
    ``doc_id % M -> (doc_id*a + b) % M`` for two (a, b) multipliers —
    a dense-enough synthetic web graph with hubs, dangling nodes and
    duplicate edges (exercising the operator's distinct + self-loop
    preprocessing)."""
    d = t(spark, sf_dir, "documents").select("doc_id")
    parts = [
        d.select(
            (F.col("doc_id") % _PR_MOD).alias("src"),
            ((F.col("doc_id") * a + b) % _PR_MOD).alias("dst"),
        )
        for a, b in _PR_EDGES
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def d40_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-iteration PageRank over the synthetic link graph
    (operators/linkrank.py) — the iterative-algorithm tier, value-hash
    matched against an UNROLLED SQL oracle via the per-iteration
    decimal rounding contract."""
    from python_openetl_spark.operators.linkrank import pagerank

    return pagerank(
        _link_edges(spark, sf_dir), iters=_PR_ITERS, damping=_PR_DAMPING
    )


def d43_corpus_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-distribution drift between the even- and odd-id halves
    of the corpus (stand-ins for 'training mix' vs 'new snapshot'):
    Laplace-smoothed KL both directions
    (operators/textops.py token_kl_divergence), bit-matched to the SQL
    oracle via the decimal-sum determinism contract."""
    from python_openetl_spark.operators.textops import token_kl_divergence

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return token_kl_divergence(
        d.filter(F.col("doc_id") % 2 == 0), d.filter(F.col("doc_id") % 2 == 1)
    )


def d45_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic identifier pseudonymization
    (operators/privacy.py pseudonymize): the source column tokenized
    in-scan, then grouped BY TOKEN — group sizes must equal the raw
    source's group sizes (joinability preserved), and the tokens
    themselves are md5-derived so the oracle mirrors them exactly. A
    path that salts inconsistently, collides tokens, or leaks raw
    values hash-mismatches."""
    from python_openetl_spark.operators.privacy import pseudonymize

    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        pseudonymize(d, ["source"], salt="r5")
        .groupBy(F.col("source").alias("source_token"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def e05_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass corpus datasheet (the 'dataset card' statistics block a
    corpus release ships): per language — document count, corpus
    share, exact-decimal mean length, token volume, distinct exact-dup
    fingerprints and the implied duplicate rate. One hash aggregate
    over one scan plus a broadcast 1-row total; every ratio enters as
    decimal-exact division rounded to 6."""
    d = t(spark, sf_dir, "documents")
    per = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast("decimal(20,0)")).alias("chars_dec"),
        F.sum(F.size(tokens("text")).cast("long")).alias("n_tokens"),
        F.count_distinct(F.md5(F.trim(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
        ))).alias("n_unique"),
    )
    tot = d.agg(F.count(F.lit(1)).alias("n_total"))
    return per.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.col("n_total").cast("double"), 6
        ).alias("share"),
        # decimal-exact numerator, ONE IEEE division (decimal/decimal
        # quotient scale rules differ between engines)
        F.round(
            F.col("chars_dec").cast("double") / F.col("n_docs").cast("double"), 6
        ).alias("avg_chars"),
        "n_tokens",
        F.round(
            F.lit(1.0)
            - F.col("n_unique").cast("double") / F.col("n_docs").cast("double"),
            6,
        ).alias("dup_rate"),
    )


def x11_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction top-k
    (operators/late_interaction.py): per-token vectors are the 8
    PQ-style sub-vectors of the stored embedding; the full q×d×8×8 dot
    lattice stays inside one whole-stage-codegen expression and the
    decimal fold makes the scores bit-matchable by the SQL oracle."""
    from python_openetl_spark.operators.late_interaction import maxsim_topk

    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(1, 5, 9)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return maxsim_topk(emb, q, k=5, m=8)


def d44_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap every synthesized domain at 8 documents; emits the kept rows
    (deterministic hash-order membership, the d24 portable-md5 device)
    so a broken window order or cap hash-mismatches."""
    from python_openetl_spark.operators.urlops import domain_cap_sample

    return domain_cap_sample(_messy_urls(spark, sf_dir), cap=8).select(
        "doc_id", "domain", "domain_rank"
    )


#: planted typo-twin id offset for d41
_OFF41 = 60_000_000


def d41_blocked_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-level near-dup detection (operators/dedup.py
    blocked_fuzzy_pairs — the seventh dedup family): every 11th
    document re-appears with its third character substituted (a
    single-keystroke edit the shingle families score far apart);
    pairs are found via first/last-token blocking and verified with
    exact JVM levenshtein over the 5-token title, mirrored by DuckDB's
    levenshtein — the same DP metric on both engines."""
    from python_openetl_spark.operators.dedup import blocked_fuzzy_pairs

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    twins = d.filter(
        (F.col("doc_id") % 11 == 0) & (F.length("text") >= 3)
    ).select(
        (F.col("doc_id") + _OFF41).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 2), F.lit("z"), F.expr("substring(text, 4)")
        ).alias("text"),
    )
    return blocked_fuzzy_pairs(d.unionByName(twins), max_edit=2)


def d42_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity over the (lang, source, n_chars-bucket) quasi-
    identifier tuple, k=3: the one-row audit plus the violating-group
    detail is the exact artifact a pre-release privacy review wants.
    One hash aggregate; the bucket keeps the combination space dense
    enough that violations exist at every fixture scale (raw n_chars
    would make nearly every row its own group — trivially all-
    violating, testing nothing)."""
    from python_openetl_spark.operators.privacy import k_anonymity_groups

    d = t(spark, sf_dir, "documents").select(
        "lang",
        "source",
        # floor, not a truncating cast: identical to the oracle for
        # negative values too (hostile-fixture proofing)
        F.floor(F.col("n_chars") / 100).cast("long").alias("len_bucket"),
    )
    return k_anonymity_groups(d, ["lang", "source", "len_bucket"], k=3).orderBy(
        "lang", "source", "len_bucket"
    )


def _pagerank_oracle(iters: int, damping: float) -> str:
    """Unrolled-iteration mirror of operators/linkrank.py pagerank:
    identical divisions, roundings and decimal sums per round; the
    teleport constant enters as the Python-computed double's shortest
    repr (see the operator's literal note)."""
    teleport = repr(1.0 - damping)
    edge_sel = "\n      UNION ALL\n".join(
        f"      SELECT doc_id % {_PR_MOD} AS src, (doc_id * {a} + {b}) % {_PR_MOD} AS dst FROM documents"
        for a, b in _PR_EDGES
    )
    sql = f"""
    WITH raw_edges AS (
{edge_sel}
    ),
    e AS (SELECT DISTINCT src, dst FROM raw_edges WHERE src <> dst),
    nodes AS (SELECT DISTINCT id FROM (
      SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)),
    deg AS (SELECT src AS id, COUNT(*) AS out_deg FROM e GROUP BY src),
    n AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (SELECT id, round(1.0 / CAST(n AS DOUBLE), 12) AS rank
           FROM nodes CROSS JOIN n)"""
    prev = "r0"
    for k in range(1, iters + 1):
        sql += f""",
    contrib{k} AS (
      SELECT e.dst AS id,
             CAST(SUM(CAST(round(r.rank / CAST(d.out_deg AS DOUBLE), 12)
                           AS DECIMAL(28,12))) AS DOUBLE) AS in_mass
      FROM {prev} r JOIN deg d ON r.id = d.id JOIN e ON e.src = r.id
      GROUP BY e.dst
    ),
    dang{k} AS (
      SELECT CAST(COALESCE(SUM(CAST(r.rank AS DECIMAL(28,12))), 0) AS DOUBLE) AS dang
      FROM {prev} r LEFT JOIN deg d ON r.id = d.id WHERE d.id IS NULL
    ),
    r{k} AS (
      SELECT nodes.id,
             round({teleport} / CAST(n AS DOUBLE)
                   + {damping!r} * (COALESCE(c.in_mass, 0.0)
                                    + dang / CAST(n AS DOUBLE)), 12) AS rank
      FROM nodes
      LEFT JOIN contrib{k} c ON nodes.id = c.id
      CROSS JOIN dang{k} CROSS JOIN n
    )"""
        prev = f"r{k}"
    sql += f"\n    SELECT id, rank FROM {prev}"
    return sql


QUERIES = {
    "d39_url_dedup": d39_url_dedup,
    "d40_pagerank": d40_pagerank,
    "d41_blocked_fuzzy_pairs": d41_blocked_fuzzy_pairs,
    "d42_k_anonymity": d42_k_anonymity,
    "d43_corpus_drift_kl": d43_corpus_drift_kl,
    "d44_domain_cap": d44_domain_cap,
    "d45_pseudonymize": d45_pseudonymize,
    "e05_dataset_card": e05_dataset_card,
    "x11_maxsim_topk": x11_maxsim_topk,
}

from python_openetl_spark.workload.llm3 import _TOKS as _TOKS_L3  # noqa: E402

#: d41 oracle — mirrors blocked_fuzzy_pairs step for step: corpus +
#: typo twins, 5-token titles, first/last-token blocking keys, either-
#: key candidate join, length pre-filter, levenshtein verify.
_D41_SQL = f"""
    WITH docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {{off}} AS doc_id,
             substr(text, 1, 2) || 'z' || substr(text, 4) AS text
      FROM documents WHERE doc_id % 11 = 0 AND length(text) >= 3
    ),
    titled AS (
      SELECT doc_id AS id,
             array_to_string(list_slice({_TOKS_L3}, 1, 5), ' ') AS title
      FROM docs
    ),
    base AS (
      SELECT *, string_split(title, ' ') AS toks
      FROM titled WHERE title IS NOT NULL AND title <> ''
    ),
    -- deletion-neighborhood keys: title minus token i, for each i.
    -- DuckDB list_slice is END-INCLUSIVE where Spark slice takes a
    -- LENGTH — for (1, i-1) and (i+1, n) the two semantics coincide.
    -- COALESCE: array_to_string([]) is NULL in DuckDB, '' in Spark
    -- (the 1-token-title key).
    keyed AS (
      SELECT id, title,
             unnest(list_distinct(list_transform(
               range(1, len(toks) + 1),
               i -> COALESCE(array_to_string(
                      list_concat(list_slice(toks, 1, i - 1),
                                  list_slice(toks, i + 1, len(toks))), ' '), '')
             ))) AS key
      FROM base
    ),
    capped AS (
      SELECT key FROM keyed GROUP BY key HAVING COUNT(*) <= 200
    ),
    kk AS (SELECT k.* FROM keyed k JOIN capped USING (key)),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.title AS ta, b.title AS tb
      FROM kk a JOIN kk b
        ON a.key = b.key AND a.id < b.id
      WHERE abs(length(a.title) - length(b.title)) <= 2
    )
    SELECT id_a, id_b, CAST(levenshtein(ta, tb) AS INT) AS edit_distance
    FROM cand WHERE levenshtein(ta, tb) <= 2
"""

# The messy-URL corpus, mirrored expression for expression.
_URLS_SQL = f"""
    SELECT doc_id,
           'https://WWW.Site' || (doc_id % 37) || '.COM/page/' || doc_id ||
           CASE doc_id % 4
             WHEN 0 THEN '?utm_source=feed&id=' || doc_id
             WHEN 1 THEN '/'
             WHEN 2 THEN '#frag'
             ELSE '?id=' || doc_id
           END AS url
    FROM documents
    UNION ALL
    SELECT doc_id + {_OFF39} AS doc_id,
           'https://www.site' || (doc_id % 37) || '.com/page/' || doc_id ||
           CASE WHEN doc_id % 4 IN (0, 3)
                THEN '?id=' || doc_id || '&utm_term=z'
                ELSE '/#x' END AS url
    FROM documents WHERE doc_id % 10 = 0
"""

# canonical_url (functions/urls.py) restated in DuckDB: identical
# backreference-free patterns; DuckDB regexp_replace needs the explicit
# 'g' flag where Spark replaces globally by default.
_TRACK = "(utm_[a-zA-Z]+|fbclid|gclid)"
_CANON_SQL = f"""
    SELECT doc_id, url,
           CASE WHEN url IS NULL THEN NULL
                WHEN scheme = '' THEN u1
                ELSE scheme || '://' || auth2 || rest5 END AS canonical_url
    FROM (
      SELECT doc_id, url, u1, scheme, auth2,
             CASE WHEN regexp_matches(rest4, '\\?') THEN rest4
                  ELSE regexp_replace(rest4, '/+$', '', 'g') END AS rest5
      FROM (
        SELECT doc_id, url, u1, scheme,
               CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80$', '')
                    WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '')
                    ELSE auth END AS auth2,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(rest, '&{_TRACK}=[^&#]*', '', 'g'),
                   '\\?{_TRACK}=[^&#]*&', '?', 'g'),
                 '\\?{_TRACK}=[^&#]*$', '', 'g') AS rest4
        FROM (
          SELECT doc_id, url, u1,
                 lower(regexp_extract(u1, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                 lower(regexp_extract(u1, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth,
                 regexp_replace(u1, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS rest
          FROM (SELECT doc_id, url, regexp_replace(url, '#.*$', '', 'g') AS u1
                FROM urls)
        )
      )
    )
"""

ORACLE = {
    "d45_pseudonymize": """
        SELECT 'tok_' || substr(md5('r5:' || source), 1, 12) AS source_token,
               COUNT(*) AS n_docs
        FROM documents WHERE source IS NOT NULL
        GROUP BY 1
        UNION ALL
        SELECT NULL, COUNT(*) FROM documents WHERE source IS NULL
        HAVING COUNT(*) > 0
    """,
    "e05_dataset_card": f"""
        WITH per AS (
          SELECT lang,
                 COUNT(*) AS n_docs,
                 CAST(SUM(CAST(n_chars AS DECIMAL(20,0))) AS DOUBLE) AS chars_d,
                 CAST(SUM(len({_TOKS_L3})) AS BIGINT) AS n_tokens,
                 COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))) AS n_unique
          FROM documents GROUP BY lang
        ),
        tot AS (SELECT COUNT(*) AS n_total FROM documents)
        SELECT lang, n_docs,
               round(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS share,
               round(chars_d / CAST(n_docs AS DOUBLE), 6) AS avg_chars,
               n_tokens,
               round(1.0 - CAST(n_unique AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS dup_rate
        FROM per CROSS JOIN tot
    """,
    # mirrors maxsim_score: sequential-fold dots rounded to 9, exact
    # max, DECIMAL(20,9)-summed maxes; DuckDB range() is end-exclusive
    # and list indexing 1-based, hence the offsets
    "x11_maxsim_topk": """
        WITH q AS (
          SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id IN (1, 5, 9)
        ),
        c AS (SELECT vec_id, embedding::DOUBLE[] AS dv FROM embeddings),
        scored AS (
          SELECT q.query_id, c.vec_id,
                 CAST(list_sum(list_transform(range(0, 8), s ->
                   CAST(list_max(list_transform(range(0, 8), t ->
                     round(list_sum(list_transform(range(1, 9),
                       i -> qv[s*8 + i] * dv[t*8 + i])), 9)
                   )) AS DECIMAL(20,9))
                 )) AS DOUBLE) AS maxsim
          FROM c, q WHERE c.vec_id <> q.query_id
        )
        SELECT query_id, vec_id, maxsim, rank FROM (
          SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY query_id ORDER BY maxsim DESC, vec_id) AS rank
          FROM scored
        ) WHERE rank <= 5
    """,
    "d40_pagerank": _pagerank_oracle(_PR_ITERS, _PR_DAMPING),
    "d41_blocked_fuzzy_pairs": _D41_SQL.format(off=_OFF41),
    # mirrors token_kl_divergence: p/q one IEEE division each, ln
    # rounded to 9, contributions to 12, summed as DECIMAL(28,12)
    "d43_corpus_drift_kl": f"""
        WITH ta AS (
          SELECT unnest({_TOKS_L3}) AS token FROM documents WHERE doc_id % 2 = 0
        ),
        tb AS (
          SELECT unnest({_TOKS_L3}) AS token FROM documents WHERE doc_id % 2 = 1
        ),
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
        l AS (SELECT p, q, v, na, nb, round(ln(p / q), 9) AS lpq FROM x)
        SELECT CAST(MAX(v) AS BIGINT) AS vocab_size,
               CAST(MAX(na) AS BIGINT) AS n_tokens_a,
               CAST(MAX(nb) AS BIGINT) AS n_tokens_b,
               CAST(SUM(CAST(round(p * lpq, 12) AS DECIMAL(28,12))) AS DOUBLE) AS kl_a_b,
               CAST(SUM(CAST(round(q * (-lpq), 12) AS DECIMAL(28,12))) AS DOUBLE) AS kl_b_a
        FROM l
    """,
    "d39_url_dedup": f"""
        WITH urls AS ({_URLS_SQL}),
        canon AS ({_CANON_SQL})
        SELECT canonical_url, MIN(doc_id) AS keeper_id, COUNT(*) AS n_dups
        FROM canon GROUP BY canonical_url
    """,
    "d44_domain_cap": f"""
        WITH urls AS ({_URLS_SQL}),
        hosted AS (
          SELECT doc_id, url,
                 regexp_extract(
                   regexp_replace(
                     regexp_replace(
                       lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
                       '^[^@]*@', ''),
                     ':[0-9]+$', ''),
                   '([^.]+\\.[^.]+)$', 1) AS domain
          FROM urls
        ),
        ranked AS (
          SELECT doc_id, domain,
                 ROW_NUMBER() OVER (
                   PARTITION BY domain
                   ORDER BY (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT)::BIGINT,
                            doc_id) AS domain_rank
          FROM hosted
        )
        SELECT doc_id, domain, CAST(domain_rank AS INT) AS domain_rank
        FROM ranked WHERE domain_rank <= 8
    """,
    "d42_k_anonymity": """
        SELECT lang, source,
               CAST(floor(n_chars / 100.0) AS BIGINT) AS len_bucket,
               COUNT(*) AS group_size
        FROM documents
        GROUP BY 1, 2, 3
        HAVING COUNT(*) < 3
    """,
}
