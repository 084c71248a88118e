"""Round-11 LLM-data additions.

- d58: DSIR importance selection (Xie et al. 2023) — unigram-feature
  importance weights (target slice vs corpus LM, add-1 smoothed over
  the source vocabulary) with an exact distributed top-quartile cut
  via ``ranking.global_ntile``. The data-selection verb between d32's
  single-LM scoring and d37's curriculum mixture: "keep what looks
  like the target domain".
- d59: exact weighted sampling WITHOUT replacement
  (Efraimidis–Spirakis keys from the portable md5 uniform,
  ``operators/sampling.weighted_sample`` two-phase bucketed top-k) —
  the P(doc) ∝ weight epoch-draw verb d10's Bernoulli hash sample
  cannot express.
- d60: pairwise source-overlap estimation via mergeable HLL sketches
  (q58 invariant-oracle pattern: exact anchors + tolerance boolean) —
  the "which crawls duplicate each other" diagnostic, one ~4 KB sketch
  per source instead of O(S²) distinct-union passes.
- d61: per-document triangle counts over the near-dup pair graph
  (``operators/cluster.triangle_counts``, degree-ordered orientation)
  — cluster-cohesion diagnostics ahead of canonicalization.
- mm09: ViT-style patch-grid expansion (``operators/multimodal.py
  patch_grid``) — decode once in the Arrow kernel, then a pure-JVM
  posexplode into clipped tiles; the 1→N preprocessing step between
  decode and a vision-encoder batch.
- x25: IVF recall-curve evaluation
  (``operators/similarity.ivf_recall_report``) — recall@k at three
  probe budgets from ONE corpus scan, with theorem-backed invariants
  (full probe = exact; nested candidates ⇒ monotone curve) as the
  driver contract.
- e11: epoch-construction composite — planted-recrawl exact dedup →
  length gate → the d59 weighted draw, every stage SQL-replayed.
- k19: Bloom-filter file skipping (``plans/manifest.py``) — per-file
  membership bits answering point lookups on a column the layout is
  NOT sorted by, where k05's min/max stats prune nothing; Delta's
  bloomFilterIndex / Iceberg bloom column metrics restated over the
  same manifest table.

Reference parity: tmccall8829/python-openetl has no corpus-selection
surface (row-level ETL only); this extends the LLM-data north-star
family (SURVEY.md §2.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_openetl_spark.operators.materialize import pin
from python_openetl_spark.workload.util import corpus_memo, nonempty, scratch, t, table_rows

QUERIES: dict = {}
ORACLE: dict = {}

_TOKS_SQL = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"


def d58_dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR with target = English documents: score every document by
    mean log importance ratio under (target LM / corpus LM), rank ALL
    scored documents into exact quartiles (banded two-pass
    global_ntile — no partitionless window, the d57 discipline), and
    flag the top quartile as selected. Ordering is total via
    (dsir_score DESC, doc_id) so ties cannot flip buckets between
    engines; zero-token documents emit no row (no evidence)."""
    from python_openetl_spark.operators.ranking import global_ntile
    from python_openetl_spark.operators.textops import dsir_importance_score

    scored = dsir_importance_score(
        t(spark, sf_dir, "documents"), F.col("lang") == "en"
    )
    ranked = global_ntile(
        scored, "dsir_score", ["doc_id"], k=4, descending=True,
        out_col="quartile",
    )
    return ranked.select(
        "doc_id",
        "n_tokens",
        "dsir_score",
        F.col("quartile").cast("int").alias("quartile"),
        (F.col("quartile") == 1).alias("selected"),
    )


QUERIES["d58_dsir_importance_select"] = d58_dsir_importance_select

ORACLE["d58_dsir_importance_select"] = f"""
    WITH tk AS (
      SELECT doc_id, lang = 'en' AS tgt, {_TOKS_SQL} AS toks FROM documents
    ),
    ex AS (SELECT doc_id, tgt, unnest(toks) AS tok FROM tk),
    freq AS (
      SELECT tok, COUNT(*) AS ns, COUNT(*) FILTER (tgt) AS nt
      FROM ex GROUP BY tok
    ),
    tot AS (SELECT SUM(ns) AS ts, SUM(nt) AS tt, COUNT(*) AS v FROM freq),
    scored AS (
      SELECT e.doc_id,
             round(ln((f.nt + 1)::DOUBLE / (t.tt + t.v))
                   - ln(f.ns::DOUBLE / t.ts), 9) AS lr
      FROM ex e JOIN freq f USING (tok) CROSS JOIN tot t
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             round(CAST(SUM(CAST(lr AS DECIMAL(24,12))) AS DOUBLE)
                   / COUNT(*), 6) AS dsir_score
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, dsir_score,
           CAST(NTILE(4) OVER (ORDER BY dsir_score DESC, doc_id) AS INT)
             AS quartile,
           NTILE(4) OVER (ORDER BY dsir_score DESC, doc_id) = 1 AS selected
    FROM agg
"""


def x24_store_update_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k probe of a store that UPDATED a tenth of its vectors
    (``vec_id % 10 = 4`` re-embedded to the NEGATED original —
    deterministic and norm-preserving): ``update_ivf_store`` is
    tombstone-then-append with generation-scoped tombstones, so the
    new embeddings must rank immediately (no rebuild) exactly where
    brute force over the post-update corpus places them, and the
    superseded generation must neither rank nor displace. nprobe =
    nlist (the x07/x23 exactness device) makes the SQL brute force a
    full value-hash oracle for update semantics on the read path;
    upsert/compaction/pk-uniqueness are pinned in
    tests/test_ivf_store.py."""
    from python_openetl_spark.operators.ivf_store import (
        build_ivf_store,
        ivf_store_topk,
        update_ivf_store,
    )
    from python_openetl_spark.operators.tuning import ivf_params

    emb = t(spark, sf_dir, "embeddings")
    if not nonempty(sf_dir, "embeddings"):
        return spark.createDataFrame(
            [], "query_id long, vec_id long, cos_sim double, rank int"
        )

    def build() -> tuple[str, int]:
        # nlist memoized WITH the store root (x23 rule: the sizing
        # count() is build-time infrastructure, not per-probe cost)
        nlist = ivf_params(table_rows(sf_dir, "embeddings"))["nlist"]
        root = scratch("x24") + "/ivf"
        build_ivf_store(emb, root, nlist=nlist)
        batch = emb.filter(F.col("vec_id") % 10 == 4).select(
            "vec_id",
            F.transform("embedding", lambda x: -x).alias("embedding"),
        )
        update_ivf_store(batch, root)
        return root, nlist

    root, nlist = corpus_memo("x24", sf_dir, build)
    queries = (
        emb.filter(F.col("vec_id").isin(5, 10, 20))
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .toPandas()
    )
    return ivf_store_topk(spark, root, queries, k=5, nprobe=nlist)


QUERIES["x24_store_update_probe"] = x24_store_update_probe

ORACLE["x24_store_update_probe"] = """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id IN (5, 10, 20)),
    c AS (SELECT vec_id,
                 CASE WHEN vec_id % 10 = 4
                      THEN list_transform(embedding::DOUBLE[], x -> -x)
                      ELSE embedding::DOUBLE[] END AS v
          FROM embeddings),
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
    ) WHERE rank <= 5
"""


def s17_stream_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental JOIN-view maintenance — the batch twin of
    streaming/sinks.py JoinViewSink (the real replayed-stream run is
    tests/test_streaming.py): three micro-batches of counting deltas
    of orders (inserts of keys %3=0, then inserts of %3=1 PLUS
    deletes of the %3=0,%5=0 rows, then inserts of %3=2) maintain an
    orders⋈lineitem view against the STATIC lineitem projection, one
    immutable version per batch; then batch 1 REPLAYS — foreachBatch
    is at-least-once — and must no-op because its idempotence token
    rode in the version-pointer commit. The oracle recomputes the view
    from the net post-stream orders set, so a double-applied replay
    (doubled mults), a missed delete, or a lost zero-count row each
    breaks the hash. Per batch the cost is one delta-sized join + a
    count merge; accumulated A is never re-joined."""
    from python_openetl_spark.plans.versioned import VersionedTable
    from python_openetl_spark.streaming.sinks import JoinViewSink

    a = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    b = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_returnflag"
    )
    one = F.lit(1).cast("long")
    b0 = a.filter(F.col("o_orderkey") % 3 == 0).withColumn("mult", one)
    b1 = (
        a.filter(F.col("o_orderkey") % 3 == 1)
        .withColumn("mult", one)
        .unionByName(
            a.filter(
                (F.col("o_orderkey") % 3 == 0) & (F.col("o_orderkey") % 5 == 0)
            ).withColumn("mult", -one)
        )
    )
    b2 = a.filter(F.col("o_orderkey") % 3 == 2).withColumn("mult", one)
    path = scratch("s17") + "/jview"
    sink = JoinViewSink(path, b, "o_orderkey")
    sink(b0, batch_id=0)
    sink(b1, batch_id=1)
    sink(b2, batch_id=2)
    sink(b1, batch_id=1)  # at-least-once replay: must not re-apply
    return VersionedTable(path).read(spark).select(
        "o_orderkey", "o_custkey", "o_orderpriority", "l_returnflag", "mult"
    )


QUERIES["s17_stream_join_view"] = s17_stream_join_view

ORACLE["s17_stream_join_view"] = """
    WITH a_net AS (
      SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
      WHERE NOT (o_orderkey % 3 = 0 AND o_orderkey % 5 = 0)
    ),
    b AS (SELECT l_orderkey AS o_orderkey, l_returnflag FROM lineitem)
    SELECT a.o_orderkey, o_custkey, o_orderpriority, l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS mult
    FROM a_net a JOIN b USING (o_orderkey)
    GROUP BY ALL
"""


def d59_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted epoch draw: exact Efraimidis–Spirakis weighted
    sampling WITHOUT replacement, 25 documents per language with
    P(doc) ∝ n_chars — the quality/length-proportional selection verb
    between d10's Bernoulli hash sample and d22's mixture resample.
    Deterministic under any partitioning (portable md5-derived uniform,
    same 60-bit scheme as d10's oracle) and computed with the two-phase
    bucketed top-k so no stratum ever serializes through one task."""
    from python_openetl_spark.operators.sampling import weighted_sample

    d = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return weighted_sample(
        d, "doc_id", "n_chars", 25, strata_col="lang"
    ).select("doc_id", "lang", "n_chars", "es_key", "sample_rank")


QUERIES["d59_weighted_sample"] = d59_weighted_sample

ORACLE["d59_weighted_sample"] = """
    WITH s AS (
      SELECT doc_id, lang, n_chars,
             round(ln((('0x' || substr(md5('es:' || doc_id::VARCHAR), 1, 15))::UBIGINT
                       + 1) / 1152921504606846976.0)
                   / n_chars::DOUBLE, 9) AS es_key
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, lang, n_chars, es_key, sample_rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY lang
                     ORDER BY es_key DESC, doc_id) AS INT) AS sample_rank
      FROM s
    ) WHERE sample_rank <= 25
"""


def k19_bloom_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-lookup file skipping through the Bloom manifest
    (plans/manifest.py): publish orders hash-clustered by customer into
    16 files — a layout whose per-file min/max o_custkey ranges all
    overlap, so k05's range stats would prune NOTHING — then answer
    three single-customer lookups reading only the files each
    customer's Bloom bits admit. tests/test_plans.py pins that the
    pruning actually skips files (~1/16 of files per probe) and that
    false negatives are impossible; this row proves end-to-end value
    equality with an unpruned scan."""
    from python_openetl_spark.plans.manifest import (
        bloom_pruned_read,
        build_bloom_manifest,
    )
    from python_openetl_spark.plans.pipelines import ParquetTable

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    table = ParquetTable(scratch("k19") + "/orders")
    table.overwrite(src.repartition(16, "o_custkey"))
    # One row per file (16 total): pin it, because every probe below
    # drives TWO collect jobs against the manifest (geometry check +
    # file filter) — unpinned, the 3-probe loop recomputed the full
    # scan+bloom aggregate 6x (guide §5 compute-once; delta-sized
    # frame, localCheckpoint per the materialize policy).
    man = pin(build_bloom_manifest(spark, table.path, "o_custkey"))
    out = None
    for ck in (1, 7, 42):
        hit = bloom_pruned_read(
            spark, man, "o_custkey", ck, table_path=table.path
        )
        out = hit if out is None else out.unionByName(hit)
    return out


QUERIES["k19_bloom_pruned_scan"] = k19_bloom_pruned_scan

ORACLE["k19_bloom_pruned_scan"] = """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_custkey IN (1, 7, 42)
"""


def d60_source_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise content overlap between sources via mergeable HLL
    sketches — the "which crawls duplicate each other" diagnostic that
    decides dedup ORDER at 100 TB. Exact pairwise distinct-union needs
    a shuffle per source pair (O(S²) passes, or one pass carrying every
    (source, shingle) pair through a self-join); the sketch version
    builds ONE ~4 KB HLL per source map-side and takes pairwise unions
    driver-cheap — S² sketch merges, zero additional data movement.

    Driver contract (q58/x05 invariant-oracle pattern): exact per-source
    and pairwise-overlap distinct counts anchor the row; the HLL union
    estimate must land within max(5%, 2/exact) of the exact union, so a
    broken sketch build/merge flips ``union_ok`` while legitimate
    estimator noise cannot. The exact branch is the audit anchor only —
    at scale you ship just the sketch branch. Sources with zero
    shingles (every doc under 3 tokens) are OMITTED — no evidence, the
    d58 zero-token convention, mirrored by the oracle's unnest."""
    from python_openetl_spark.functions.text import text_shingles

    sh = (
        t(spark, sf_dir, "documents")
        .select("source", F.explode(text_shingles("text", 3)).alias("sh"))
    )
    per_src = sh.groupBy("source").agg(
        F.hll_sketch_agg("sh").alias("sk"),
        F.count_distinct("sh").alias("exact_n"),
    )
    a = per_src.select(
        F.col("source").alias("src_a"),
        F.col("sk").alias("sk_a"),
        F.col("exact_n").alias("exact_a"),
    )
    b = per_src.select(
        F.col("source").alias("src_b"),
        F.col("sk").alias("sk_b"),
        F.col("exact_n").alias("exact_b"),
    )
    pairs = a.join(F.broadcast(b), F.col("src_a") < F.col("src_b"))
    dist = sh.distinct()
    ov = (
        dist.withColumnRenamed("source", "src_a")
        .join(
            dist.withColumnRenamed("source", "src_b").withColumnRenamed("sh", "sh2"),
            (F.col("sh") == F.col("sh2")) & (F.col("src_a") < F.col("src_b")),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    est = pairs.select(
        "src_a",
        "src_b",
        "exact_a",
        "exact_b",
        F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b")).alias("__est"),
    )
    exact_union = (
        F.col("exact_a") + F.col("exact_b") - F.col("exact_overlap")
    ).cast("double")
    return (
        est.join(ov, ["src_a", "src_b"], "left")
        .withColumn("exact_overlap", F.coalesce("exact_overlap", F.lit(0)))
        .select(
            "src_a",
            "src_b",
            "exact_a",
            "exact_b",
            "exact_overlap",
            F.when(exact_union == 0, F.col("__est") == 0)
            .otherwise(
                F.abs(F.col("__est") - exact_union) / exact_union
                <= F.greatest(F.lit(0.05), F.lit(2.0) / exact_union)
            )
            .alias("union_ok"),
        )
    )


QUERIES["d60_source_overlap_sketch"] = d60_source_overlap_sketch

ORACLE["d60_source_overlap_sketch"] = f"""
    WITH tk AS (SELECT source, {_TOKS_SQL} AS toks FROM documents),
    sh AS (
      SELECT DISTINCT source,
             unnest(CASE WHEN len(toks) >= 3
                    THEN list_transform(range(1, len(toks) - 1),
                         i -> array_to_string(list_slice(toks, i, i + 2), ' '))
                    ELSE [] END) AS sh
      FROM tk
    ),
    per AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
    ov AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS exact_overlap
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT pa.source AS src_a, pb.source AS src_b,
           pa.n AS exact_a, pb.n AS exact_b,
           COALESCE(ov.exact_overlap, 0) AS exact_overlap,
           TRUE AS union_ok
    FROM per pa
    JOIN per pb ON pa.source < pb.source
    LEFT JOIN ov ON ov.src_a = pa.source AND ov.src_b = pb.source
"""


def d61_dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle counts over the d07 near-dup pair graph
    (``operators/cluster.triangle_counts``, Suri–Vassilvitskii
    degree-ordered orientation): the cluster-cohesion diagnostic that
    separates mutually-confirmed dup clusters (triangle-dense) from
    band-collision tendrils (triangle-free) before d13 canonicalizes.
    The DuckDB oracle counts the same triangles by id-ordered three-way
    self-join — a different canonicalization that must agree exactly,
    so an orientation bug (double- or zero-counted triangle) breaks the
    hash.

    Cost attribution (sf1 spot-bench): ~99% of this row's wall time is
    the UPSTREAM exact-pair generation (d07 alone: 89.7 s at sf1 vs
    80.3 s for the whole row) — triangle_counts itself is join-bounded
    and adds ~nothing. At 100 TB you run it on the d06 LSH candidate
    graph (orders of magnitude smaller by construction); the exact d07
    graph here is the oracle-checkable baseline, same division of
    labor as d07-vs-d06 themselves."""
    from python_openetl_spark.operators.cluster import triangle_counts
    from python_openetl_spark.workload.llm import _jaccard_pairs

    return triangle_counts(_jaccard_pairs(spark, sf_dir))


QUERIES["d61_dup_graph_triangles"] = d61_dup_graph_triangles


def _d61_oracle() -> str:
    from python_openetl_spark.workload.llm import _JACCARD_PAIRS_SQL

    return f"""
    WITH pairs AS ({_JACCARD_PAIRS_SQL}),
    e AS (
      SELECT DISTINCT least(doc_a, doc_b) AS a, greatest(doc_a, doc_b) AS b
      FROM pairs WHERE doc_a <> doc_b
    ),
    nodes AS (SELECT a AS id FROM e UNION SELECT b FROM e),
    tri AS (
      SELECT ab.a AS u, ab.b AS v, bc.b AS w
      FROM e ab JOIN e bc ON ab.b = bc.a
      JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
    ),
    pn AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
        SELECT u AS id FROM tri UNION ALL
        SELECT v FROM tri UNION ALL
        SELECT w FROM tri
      ) GROUP BY id
    )
    SELECT nodes.id, COALESCE(pn.triangles, 0) AS triangles
    FROM nodes LEFT JOIN pn USING (id)
"""


ORACLE["d61_dup_graph_triangles"] = _d61_oracle()


def mm09_patch_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-preprocessing patch grid over fake-decoded "images": decode
    once in the Arrow kernel (content-hash pseudo-dimensions — the
    documented real-codec seam), then expand every image into clipped
    64px tiles PURELY JVM-side (one posexplode, codegen'd div/mod).
    The oracle recomputes the identical sha256-derived dimensions and
    grid in SQL, so a drifting fake decoder, a transposed row/col, or
    an unclipped edge tile all break the hash."""
    from python_openetl_spark.operators import multimodal

    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    meta = multimodal.decode_images(d, fake=True)
    return multimodal.patch_grid(meta, patch=64)


QUERIES["mm09_patch_grid"] = mm09_patch_grid

ORACLE["mm09_patch_grid"] = """
    WITH m AS (
      SELECT doc_id,
             64 + ('0x' || substr(sha256(text), 1, 2))::INT % 192 AS width,
             64 + ('0x' || substr(sha256(text), 3, 2))::INT % 192 AS height
      FROM documents
    ),
    g AS (
      SELECT *, CAST(ceil(height / 64.0) AS INT) AS ny,
                CAST(ceil(width / 64.0) AS INT) AS nx
      FROM m
    ),
    ex AS (
      SELECT doc_id, width, height, nx,
             unnest(range(0, ny * nx)) AS idx
      FROM g
    )
    SELECT doc_id,
           CAST(idx AS INT) AS patch_idx,
           CAST(idx // nx AS INT) AS py,
           CAST(idx % nx AS INT) AS px,
           CAST((idx // nx) * 64 AS INT) AS y0,
           CAST((idx % nx) * 64 AS INT) AS x0,
           CAST(least(64, height - (idx // nx) * 64) AS INT) AS ph,
           CAST(least(64, width - (idx % nx) * 64) AS INT) AS pw
    FROM ex
"""


def x25_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-curve evaluation of the IVF index
    (``operators/similarity.ivf_recall_report``): every 50th vector
    queries (as its own planted anchor, id-shifted), recall@10 measured
    at 1/8, 1/2 and full probe budgets from ONE corpus scan. Driver
    contract: the full budget probes every cell, so its candidate set
    IS the exact set — full_recall is exactly 1.0 by construction, not
    approximately; top1_id must be the planted anchor (cos 1.0); and
    the recall curve must be monotone in the budget (nested-candidates
    theorem — see the operator docstring). The sub-budget recalls stay
    engine-internal diagnostics (estimator-dependent), exactly like
    q58's HLL estimate."""
    from python_openetl_spark.operators.similarity import ivf_recall_report
    from python_openetl_spark.operators.tuning import ivf_params

    emb = t(spark, sf_dir, "embeddings")
    if not nonempty(sf_dir, "embeddings"):
        return spark.createDataFrame(
            [],
            "query_id long, exact_k long, top1_id long, full_recall double, "
            "monotone_ok boolean",
        )
    nlist = ivf_params(table_rows(sf_dir, "embeddings"))["nlist"]
    queries = (
        emb.filter(F.col("vec_id") % 50 == 7)
        .select((F.col("vec_id") + 3_000_000).alias("query_id"), "embedding")
        .toPandas()
    )
    rep = ivf_recall_report(
        emb,
        queries,
        k=10,
        nlist=nlist,
        budgets=(max(1, nlist // 8), max(1, nlist // 2), nlist),
    )
    return rep.select(
        "query_id",
        "exact_k",
        "top1_id",
        F.col(f"recall_at_{nlist}").alias("full_recall"),
        "monotone_ok",
    )


QUERIES["x25_ann_recall_report"] = x25_ann_recall_report

ORACLE["x25_ann_recall_report"] = """
    SELECT vec_id + 3000000 AS query_id,
           CAST(10 AS BIGINT) AS exact_k,
           vec_id AS top1_id,
           1.0 AS full_recall,
           TRUE AS monotone_ok
    FROM embeddings WHERE vec_id % 50 = 7
"""


def e11_weighted_epoch_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end epoch construction with hygiene, wiring the round-11
    sampling verb into the standard pre-draw pipeline: plant identity
    duplicates (every 7th doc re-ingested under a shifted id — the
    re-crawl shape), collapse them with exact dedup (min-id keeper, one
    fingerprint shuffle), gate by length (n_chars ≥ 100), then draw the
    epoch: 20 docs per language WITHOUT replacement with
    P(doc) ∝ n_chars (Efraimidis–Spirakis, two-phase bucketed top-k).
    The oracle replays every stage in SQL, so a dedup that keeps the
    copy instead of the original, a leaked short doc, or a sampling
    drift each breaks the hash."""
    from python_openetl_spark.operators.dedup import exact_dedup_keep
    from python_openetl_spark.operators.sampling import weighted_sample

    off = 10_000_000
    d = t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "n_chars")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % 7 == 0).withColumn(
            "doc_id", F.col("doc_id") + off
        )
    )
    kept = exact_dedup_keep(corpus).filter(F.col("n_chars") >= 100)
    return weighted_sample(
        kept, "doc_id", "n_chars", 20, strata_col="lang"
    ).select("doc_id", "lang", "n_chars", "es_key", "sample_rank")


QUERIES["e11_weighted_epoch_corpus"] = e11_weighted_epoch_corpus

ORACLE["e11_weighted_epoch_corpus"] = """
    WITH corpus AS (
      SELECT doc_id, text, lang, n_chars FROM documents
      UNION ALL
      SELECT doc_id + 10000000, text, lang, n_chars
      FROM documents WHERE doc_id % 7 = 0
    ),
    keepers AS (
      SELECT MIN(doc_id) AS doc_id
      FROM corpus
      GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
    ),
    kept AS (
      SELECT c.doc_id, c.lang, c.n_chars
      FROM corpus c JOIN keepers USING (doc_id)
      WHERE c.n_chars >= 100
    ),
    s AS (
      SELECT doc_id, lang, n_chars,
             round(ln((('0x' || substr(md5('es:' || doc_id::VARCHAR), 1, 15))::UBIGINT
                       + 1) / 1152921504606846976.0)
                   / n_chars::DOUBLE, 9) AS es_key
      FROM kept WHERE n_chars > 0
    )
    SELECT doc_id, lang, n_chars, es_key, sample_rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY lang
                     ORDER BY es_key DESC, doc_id) AS INT) AS sample_rank
      FROM s
    ) WHERE sample_rank <= 20
"""
