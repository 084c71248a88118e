"""Round-9 additions: paragraph-level dedup, store range search, a
real two-stream watermarked join.

- d55: CCNet-style cross-document PARAGRAPH dedup with document
  reconstruction (``operators/dedup.py paragraph_dedup``) — the
  boilerplate-removal granularity whole-document dedup misses.
- x21: FAISS ``range_search`` parity on the persisted IVF store
  (``operators/ivf_store.py ivf_store_range_search``) — ALL neighbors
  within a cosine radius, the data-dependent-answer-size verb; run at
  ``nprobe = nlist`` so the brute-force SQL is a full value-hash
  oracle (the x07/x20 device).
- s13: stream-STREAM inner interval join executed as two REAL replayed
  file streams (s06 is the batch twin; this row runs the actual
  two-sided state-store machinery): both sides watermarked, chunks
  staged in event-time order so the 2-hour watermark provably admits
  every row, and the emitted matches must equal the batch join exactly.

Reference parity: the reference (tmccall8829/python-openetl) has no
streaming or vector surface; these extend its sync verbs
(pyopenetl/operations.py:515-609) toward the BASELINE.json north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_openetl_spark.workload.llm import _TOKS_SQL
from python_openetl_spark.workload.util import corpus_memo, nonempty, scratch, stream_state_partitions, t, table_rows


def d55_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc paragraph dedup (operators/dedup.py paragraph_dedup):
    12-token non-overlapping paragraphs, globally-first occurrence
    wins, documents reassembled from their kept paragraphs in order.
    The dedup decision shuffles (doc_id, idx, md5) only; text crosses
    the wire once in the reassembly join."""
    from python_openetl_spark.operators.dedup import paragraph_dedup

    return paragraph_dedup(t(spark, sf_dir, "documents"), para_tokens=12)


_X21_QUERY_IDS = (3, 11, 42)
_X21_RADIUS = 0.15


def x21_store_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius search on the persisted IVF store: every corpus vector
    with cosine >= 0.15 of each probe — FAISS ``range_search``, the
    verb for data-dependent answer sizes (near-dup discovery around a
    document, recall-oriented retrieval) where a fixed k either
    truncates or pads. Probes every cell (nprobe = nlist), making the
    result exact and the brute-force filtered SQL a full value-hash
    oracle for the radius predicate, the partition-pruned scan, and
    the set semantics (no rank column — the output is a set, so no
    tie-break subtleties exist to diverge on). Production nprobe
    inherits IVF's probed-cells recall contract, measured in
    tests/test_ivf_store.py."""
    from python_openetl_spark.operators.ivf_store import (
        build_ivf_store,
        ivf_store_range_search,
    )
    from python_openetl_spark.operators.tuning import ivf_params

    emb = t(spark, sf_dir, "embeddings")
    if not nonempty(sf_dir, "embeddings"):
        return spark.createDataFrame(
            [], "query_id long, vec_id long, cos_sim double"
        )
    p = ivf_params(table_rows(sf_dir, "embeddings"))

    def build() -> str:
        root = scratch("x21") + "/ivf"
        build_ivf_store(emb, root, nlist=p["nlist"])
        return root

    root = corpus_memo("x21", sf_dir, build)
    queries = (
        emb.filter(F.col("vec_id").isin(*_X21_QUERY_IDS))
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .toPandas()
    )
    return ivf_store_range_search(
        spark, root, queries, radius=_X21_RADIUS, nprobe=p["nlist"]
    )


def s13_stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM inner interval join as two REAL replayed streams:
    purchases and clicks arrive as separate file-source streams (three
    time-ordered chunks each), both watermarked 2 hours, joined on
    user_id with clicks in the hour before the purchase. Event-time-
    ordered staging + the 2-hour delay means no input is ever behind
    the watermark, so the two-sided state store must emit EXACTLY the
    batch join (s06's oracle shape) — a dropped-state bug, a watermark
    regression, or a chunk-boundary loss all change the row set. State
    is bounded: each side retains only the watermark-plus-interval
    window, which is the property that makes this join runnable on an
    unbounded stream at all.

    State-partition sizing: stateful micro-batch cost is per-partition
    per-batch (four state stores for a join × partitions × batches —
    measured 12.5 s at 32 partitions, 3.9 s at 8, 3.0 s at 4 for the
    identical 371-row result), so the row pins shuffle partitions for the
    stream and restores the session setting after; a production job
    sizes this to state VOLUME, exactly as it sizes shuffle partitions
    for batch."""
    from python_openetl_spark.streaming.sources import (
        read_file_stream,
        stage_replay_dir,
    )

    ev = t(spark, sf_dir, "events")
    if not nonempty(sf_dir, "events"):
        return spark.createDataFrame(
            [],
            "p_id long, user_id long, purchase_us long, c_id long, click_us long",
        )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )

    # staging is input PREPARATION (the fixture pretending to be a live
    # feed), not the machinery under test — the stream itself runs fresh
    # on every call (new checkpoint, new state stores)
    def stage() -> tuple[str, str]:
        tmp = scratch("s13")
        return (
            stage_replay_dir(
                purchases, tmp + "/p", chunks=3,
                order_col="p_ts", shuffle_time_order=False,
            ),
            stage_replay_dir(
                clicks, tmp + "/c", chunks=3,
                order_col="c_ts", shuffle_time_order=False,
            ),
        )

    p_path, c_path = corpus_memo("s13", sf_dir, stage)
    ps = read_file_stream(spark, p_path, purchases.schema).withWatermark(
        "p_ts", "2 hours"
    )
    cs = read_file_stream(spark, c_path, clicks.schema).withWatermark(
        "c_ts", "2 hours"
    )
    joined = ps.join(
        cs,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    name = "poe_s13_join"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    # state volume = both sides' arrivals per micro-batch (each feeds
    # the same join's state store)
    from python_openetl_spark.streaming.sources import replay_rows_per_batch

    rpb = replay_rows_per_batch(p_path) + replay_rows_per_batch(c_path)
    spark.conf.set("spark.sql.shuffle.partitions", str(stream_state_partitions(rpb)))
    try:
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", scratch("s13_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("s13: two-stream join did not finish within 300s")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name).select(
        "p_id",
        "user_id",
        F.unix_micros("p_ts").alias("purchase_us"),
        "c_id",
        F.unix_micros("c_ts").alias("click_us"),
    )


QUERIES = {
    "d55_paragraph_dedup": d55_paragraph_dedup,
    "x21_store_range_search": x21_store_range_search,
    "s13_stream_stream_interval_join": s13_stream_stream_interval_join,
}

ORACLE = {
    "d55_paragraph_dedup": f"""
        WITH tk AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
        p AS (
          SELECT doc_id, u.i AS idx,
                 array_to_string(
                   list_slice(toks, u.i * 12 + 1, u.i * 12 + 12), ' ') AS para
          FROM tk,
               LATERAL unnest(range(0, CAST(ceil(len(toks) / 12.0) AS BIGINT)))
                 AS u(i)
          WHERE len(toks) >= 1
        ),
        decided AS (
          SELECT doc_id, idx, para,
                 ROW_NUMBER() OVER (PARTITION BY para
                                    ORDER BY doc_id, idx) AS rn
          FROM p
        )
        SELECT doc_id,
               COUNT(*) AS n_paras,
               COUNT(*) FILTER (WHERE rn = 1) AS n_kept,
               COALESCE(
                 string_agg(para, ' ' ORDER BY idx) FILTER (WHERE rn = 1),
                 '') AS text_dedup
        FROM decided GROUP BY doc_id
    """,
    "x21_store_range_search": f"""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id IN {_X21_QUERY_IDS}),
        c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT q.query_id, c.vec_id,
               list_dot_product(c.v, q.qv)
                 / (sqrt(list_dot_product(c.v, c.v))
                    * sqrt(list_dot_product(q.qv, q.qv))) AS cos_sim
        FROM c, q
        WHERE c.vec_id <> q.query_id
          AND list_dot_product(c.v, q.qv)
                / (sqrt(list_dot_product(c.v, c.v))
                   * sqrt(list_dot_product(q.qv, q.qv))) >= {_X21_RADIUS}
    """,
    "s13_stream_stream_interval_join": """
        SELECT p.event_id AS p_id, p.user_id,
               epoch_us(p.ts) AS purchase_us,
               c.event_id AS c_id,
               epoch_us(c.ts) AS click_us
        FROM events p JOIN events c
          ON p.user_id = c.user_id
         AND p.event_type = 'purchase' AND c.event_type = 'click'
         AND epoch_us(c.ts) <= epoch_us(p.ts)
         AND epoch_us(c.ts) > epoch_us(p.ts) - 3600000000
    """,
}


#: deterministic 64-byte "new container header" pad for mm07's copies
_MM07_PAD = bytes(range(64, 128))
assert len(_MM07_PAD) == 64


def mm07_cdc_offset_invariant_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset-invariant binary dedup through CONTENT-DEFINED chunking
    (operators/multimodal.py cdc_chunk_fingerprints — the storage-dedup
    / rsync boundary device): every 10th+1 payload of >= 256 bytes is
    re-ingested with a 64-byte deterministic "new container header"
    prefix (id + 8M) — the re-encoded-audio / remuxed-video shape that
    shifts every FIXED-offset frame, so mm06's frame hashing would
    match nothing, while content-defined cut positions in the shared
    region are identical in both copies and their interior chunks
    fingerprint-match. Each planted pair must share chunks (expected
    ~30 cuts per 256-byte payload at divisor 8; the pair misses only
    if the shared content contains < 2 cut positions, p < 1e-10 —
    margin asserted in tests/test_llm_ops.py). The probe joins the
    planted originals against their copies only — the generic
    all-pairs verb is the operator; binding the planted relation keeps
    the row's join linear in corpus size."""
    from python_openetl_spark.operators.multimodal import cdc_chunk_fingerprints

    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.col("text") != ""))
        .select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    )
    planted = d.filter(
        (F.col("doc_id") % 10 == 1) & (F.length("payload") >= 256)
    )
    copies = planted.select(
        (F.col("doc_id") + 8_000_000).alias("doc_id"),
        F.concat(F.lit(_MM07_PAD), F.col("payload")).alias("payload"),
    )
    fp = cdc_chunk_fingerprints(planted.unionByName(copies), divisor=8)
    fa = fp.filter(F.col("doc_id") < 8_000_000).withColumnRenamed(
        "doc_id", "doc_a"
    )
    fb = fp.filter(F.col("doc_id") >= 8_000_000).select(
        (F.col("doc_id") - 8_000_000).alias("doc_a"),
        F.col("chunk_fp").alias("fp_b"),
    )
    shared = (
        fa.join(fb, (fa.chunk_fp == fb.fp_b) & (fa.doc_a == fb.doc_a))
        .groupBy(fa.doc_a)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        planted.select(F.col("doc_id").alias("doc_a"))
        .join(shared, "doc_a", "left")
        .select(
            "doc_a",
            (F.col("doc_a") + 8_000_000).alias("doc_b"),
            F.coalesce(F.col("n_shared") >= 1, F.lit(False)).alias("matched"),
        )
    )


QUERIES["mm07_cdc_offset_invariant_dedup"] = mm07_cdc_offset_invariant_dedup

ORACLE["mm07_cdc_offset_invariant_dedup"] = """
    SELECT doc_id AS doc_a, doc_id + 8000000 AS doc_b, TRUE AS matched
    FROM documents
    WHERE text IS NOT NULL AND text <> '' AND doc_id % 10 = 1
      AND octet_length(encode(text)) >= 256
"""


def x22_store_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed kNN JOIN against the PERSISTED store
    (operators/knn_join.py ivf_store_knn_join): every 30th vector
    queries the index under a disjoint id space (+5M, the linkage
    shape, exclude_self=False) with the store-level pre-filter
    ``label = 0`` — batch scoring against amortized infrastructure,
    where x17 retrains per call. The corpus side is the store's
    materialized cell partitions (zero training, zero re-assignment
    at join time); queries fan to every cell (nprobe = nlist, the
    exactness device), so the filtered brute-force SQL is a full
    value-hash oracle for the store scan, the attribute filter
    placement, the cell mapping, and the cogrouped GEMM + global
    re-rank. Production nprobe inherits the measured IVF recall
    contract (tests/test_knn_join.py)."""
    from python_openetl_spark.operators.ivf_store import build_ivf_store
    from python_openetl_spark.operators.knn_join import ivf_store_knn_join
    from python_openetl_spark.operators.tuning import ivf_params

    emb = t(spark, sf_dir, "embeddings")
    if not nonempty(sf_dir, "embeddings"):
        return spark.createDataFrame(
            [], "query_id long, vec_id long, cos_sim double, rank int"
        )
    p = ivf_params(table_rows(sf_dir, "embeddings"))

    def build() -> str:
        root = scratch("x22") + "/ivf"
        build_ivf_store(emb, root, nlist=p["nlist"], attr_cols=("label",))
        return root

    root = corpus_memo("x22", sf_dir, build)
    queries = emb.filter(F.col("vec_id") % 30 == 2).select(
        (F.col("vec_id") + 5_000_000).alias("query_id"), "embedding"
    )
    return ivf_store_knn_join(
        spark,
        root,
        queries,
        k=3,
        nprobe=p["nlist"],
        where="label = 0",
        exclude_self=False,
    )


QUERIES["x22_store_knn_join"] = x22_store_knn_join

ORACLE["x22_store_knn_join"] = """
    WITH q AS (SELECT vec_id + 5000000 AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id % 30 = 2),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
          WHERE label = 0),
    scored AS (
      SELECT q.query_id, c.vec_id,
             list_dot_product(c.v, q.qv)
               / (sqrt(list_dot_product(c.v, c.v))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS cos_sim
      FROM c, q
    )
    SELECT query_id, vec_id, cos_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cos_sim DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= 3
"""


def e09_dedup_temperature_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-9 pipeline composite: paragraph-level dedup (d55) →
    temperature-weighted language resample over the DEDUPED corpus
    (e08's rule — weights derive from post-dedup counts, which is the
    honest order: dedup first, or boilerplate-heavy languages keep
    inflated weights) → per-language corpus report (docs kept, tokens
    kept). Three stages, one driver row; each keeps its individual
    scale shape (ids-only dedup decision, one text shuffle, broadcast
    accept thresholds, final agg over per-doc token counts). The
    token count re-tokenizes the REASSEMBLED text, so a reassembly
    bug (wrong paragraph order, dropped separator) changes the row."""
    from python_openetl_spark.functions.text import tokens
    from python_openetl_spark.operators.dedup import paragraph_dedup
    from python_openetl_spark.operators.prep import temperature_mixture

    docs = t(spark, sf_dir, "documents")
    deduped = (
        paragraph_dedup(docs, para_tokens=12)
        .filter(F.col("n_kept") >= 1)
        .join(docs.select("doc_id", "lang"), "doc_id")
    )
    sel = temperature_mixture(deduped, alpha=0.5, strata_col="lang")
    return (
        sel.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(tokens("text_dedup"))).cast("bigint").alias("n_tokens"),
        )
        .select("lang", "n_docs", "n_tokens")
    )


QUERIES["e09_dedup_temperature_corpus"] = e09_dedup_temperature_corpus

ORACLE["e09_dedup_temperature_corpus"] = f"""
    WITH tk AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    p AS (
      SELECT doc_id, u.i AS idx,
             array_to_string(
               list_slice(toks, u.i * 12 + 1, u.i * 12 + 12), ' ') AS para
      FROM tk,
           LATERAL unnest(range(0, CAST(ceil(len(toks) / 12.0) AS BIGINT)))
             AS u(i)
      WHERE len(toks) >= 1
    ),
    decided AS (
      SELECT doc_id, idx, para,
             ROW_NUMBER() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn
      FROM p
    ),
    dedup AS (
      SELECT doc_id,
             COUNT(*) FILTER (WHERE rn = 1) AS n_kept,
             COALESCE(
               string_agg(para, ' ' ORDER BY idx) FILTER (WHERE rn = 1),
               '') AS text_dedup
      FROM decided GROUP BY doc_id
    ),
    corpus AS (
      SELECT d.doc_id, d.text_dedup, doc.lang
      FROM dedup d JOIN documents doc USING (doc_id)
      WHERE d.n_kept >= 1
    ),
    c AS (SELECT lang, COUNT(*) AS cnt FROM corpus GROUP BY lang),
    w AS (SELECT lang, cnt,
                 CAST(FLOOR(SQRT(cnt) * 1e12) AS DECIMAL(28,0)) AS pw
          FROM c),
    n AS (SELECT SUM(pw) AS pw_sum, SUM(cnt) AS total FROM w),
    acc AS (
      SELECT w.lang,
             CAST(FLOOR(10000.0 * LEAST(1.0,
                  (CAST(pw AS DOUBLE) / CAST(pw_sum AS DOUBLE))
                  * 0.5 * CAST(total AS DOUBLE) / cnt)) AS BIGINT) AS accept_bp
      FROM w, n
    ),
    sel AS (
      SELECT corpus.*
      FROM corpus JOIN acc USING (lang)
      WHERE ('0x' || substr(md5(':' || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
            % 10000 < accept_bp
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(len(list_filter(
             regexp_split_to_array(lower(text_dedup), '[^a-z0-9]+'),
             x -> x <> ''))) AS BIGINT) AS n_tokens
    FROM sel GROUP BY lang
"""


def d56_epoch_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-style UP-sampling mixture (operators/prep.py
    epoch_mixture): temperature weights (alpha = 0.5) over the skewed
    lang stratum realized as REAL multipliers — small languages emit
    multiple deterministic copies per document (floor(m) full epochs +
    one fractional epoch by id-hash), the dominant language
    down-samples below 1 — which is the half of temperature sampling
    e08's capped accept-fraction cannot express and the form actual
    pretraining mixtures use. Copy counts are integer basis-point
    arithmetic from the e08 decimal-weight device, so the expansion is
    bit-identical across engines and partitionings; the 1→N explode
    happens inside the scan, rows never shuffle."""
    from python_openetl_spark.operators.prep import epoch_mixture

    return epoch_mixture(
        t(spark, sf_dir, "documents"), alpha=0.5, strata_col="lang"
    ).select("doc_id", "lang", "copy_idx")


QUERIES["d56_epoch_mixture"] = d56_epoch_mixture

ORACLE["d56_epoch_mixture"] = """
    WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents
               WHERE lang IS NOT NULL GROUP BY lang),
    w AS (SELECT lang, cnt,
                 CAST(FLOOR(SQRT(cnt) * 1e12) AS DECIMAL(28,0)) AS pw
          FROM c),
    n AS (SELECT SUM(pw) AS pw_sum, SUM(cnt) AS total FROM w),
    acc AS (
      SELECT w.lang,
             CAST(FLOOR(10000.0
                  * (CAST(pw AS DOUBLE) / CAST(pw_sum AS DOUBLE))
                  * CAST(total AS DOUBLE) / CAST(cnt AS DOUBLE)) AS BIGINT)
               AS mult_bp
      FROM w, n
    ),
    base AS (
      SELECT d.doc_id, d.lang,
             mult_bp // 10000
             + CASE WHEN ('0x' || substr(md5(':' || CAST(d.doc_id AS VARCHAR)),
                          1, 15))::UBIGINT % 10000 < mult_bp % 10000
                    THEN 1 ELSE 0 END AS n_copies
      FROM documents d JOIN acc USING (lang)
    )
    SELECT doc_id, lang, u.i AS copy_idx
    FROM base, LATERAL unnest(range(0, n_copies)) AS u(i)
    WHERE n_copies >= 1
"""
