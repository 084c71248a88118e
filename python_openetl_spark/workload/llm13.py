"""Round-10 LLM-pipeline / vector-store / streaming additions.

- x23: DELETE on the persisted IVF store — the lifecycle verb FAISS
  calls ``remove_ids`` and lakehouses call deletion vectors. The store
  deletes by predicate (tombstones, delete-sized cost), and the probe
  must act as if the rows never existed; the brute-force SQL over the
  surviving id set is a full value-hash oracle for the tombstone
  anti-join on the probe path.
- d57: CCNet-style perplexity bucketing — per-document average token
  log-probability under the corpus unigram LM, cut into head/middle/
  tail terciles by exact rank (the filter step real pretraining
  pipelines run; CCNet keeps head+middle).
- s14: stream-stream LEFT OUTER interval join — the semantics
  milestone past s13's inner join: unmatched left rows may only emit
  once the watermark proves no match can still arrive, so the row
  exercises the state-store eviction logic itself.

Reference parity: the reference (tmccall8829/python-openetl) has no
vector, LM, or streaming surface; these extend SURVEY.md §2's
beyond-reference families (ANN store lifecycle, text analysis,
structured streaming).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_openetl_spark.operators.materialize import pin
from python_openetl_spark.workload.util import corpus_memo, nonempty, scratch, stream_state_partitions, t, table_rows

QUERIES: dict = {}
ORACLE: dict = {}


def x23_store_delete_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k probe of a store that DELETED a tenth of its vectors
    (``vec_id % 10 = 3``, a predicate delete → id tombstones): the
    deleted rows must be invisible to the probe exactly as if never
    ingested — the tombstone anti-join sits on the partition-pruned
    scan BEFORE any distance math, so deleted vectors can neither
    rank nor displace. nprobe = nlist (the x07 exactness device)
    makes the brute-force SQL over the surviving ids a full value-hash
    oracle for delete semantics on the read path; compaction and
    resurrect-after-rebuild are pinned in tests/test_ivf_store.py."""
    from python_openetl_spark.operators.ivf_store import (
        build_ivf_store,
        delete_from_ivf_store,
        ivf_store_topk,
    )
    from python_openetl_spark.operators.tuning import ivf_params

    emb = t(spark, sf_dir, "embeddings")
    if not nonempty(sf_dir, "embeddings"):
        return spark.createDataFrame(
            [], "query_id long, vec_id long, cos_sim double, rank int"
        )

    # build + delete are store PREPARATION (amortized infrastructure);
    # the probe under test runs fresh on every call
    def build() -> tuple[str, int]:
        # nlist is memoized WITH the store root: the count() that sizes
        # it is build-time infrastructure, not per-probe cost
        nlist = ivf_params(table_rows(sf_dir, "embeddings"))["nlist"]
        root = scratch("x23") + "/ivf"
        build_ivf_store(emb, root, nlist=nlist)
        delete_from_ivf_store(spark, root, where="vec_id % 10 = 3")
        return root, nlist

    root, nlist = corpus_memo("x23", sf_dir, build)
    queries = (
        emb.filter(F.col("vec_id").isin(5, 10, 20))
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .toPandas()
    )
    return ivf_store_topk(spark, root, queries, k=5, nprobe=nlist)


QUERIES["x23_store_delete_probe"] = x23_store_delete_probe

ORACLE["x23_store_delete_probe"] = """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id IN (5, 10, 20)),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
          WHERE vec_id % 10 <> 3),
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


def d57_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: score every document with the
    corpus unigram LM (d32's exact-decimal device), rank ALL documents
    by average negative log-probability ascending (fluent first), and
    cut into exact terciles — head / middle / tail, with the CCNet
    keep rule (head + middle) as a flag. The tercile assignment is
    ``operators/ranking.py global_ntile`` (banded two-pass exact
    NTILE), NOT a partitionless window — the ranking never funnels the
    corpus through one task, which is the difference between a filter
    step and a bottleneck at 100 TB. Ordering is total via
    (avg_neglogp, doc_id) so ties cannot flip buckets between
    engines."""
    from python_openetl_spark.operators.ranking import global_ntile
    from python_openetl_spark.operators.textops import unigram_logprob_score

    scored = unigram_logprob_score(t(spark, sf_dir, "documents")).select(
        "doc_id", "avg_neglogp"
    )
    terc = global_ntile(
        scored, "avg_neglogp", ["doc_id"], k=3, descending=False,
        out_col="tercile",
    )
    return terc.select(
        "doc_id",
        "avg_neglogp",
        F.element_at(
            F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
            F.col("tercile"),
        ).alias("bucket"),
        (F.col("tercile") <= 2).alias("kept"),
    )


QUERIES["d57_perplexity_buckets"] = d57_perplexity_buckets

_D32_AGG_SQL = """
        WITH tk AS (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS toks FROM documents),
        ex AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
        freq AS (SELECT tok, COUNT(*) AS n FROM ex GROUP BY tok),
        tot AS (SELECT COUNT(*) AS total FROM ex),
        nlps AS (
          SELECT e.doc_id, round(-ln(f.n::DOUBLE / t.total), 9) AS nlp
          FROM ex e JOIN freq f USING (tok) CROSS JOIN tot t
        ),
        agg AS (
          SELECT doc_id,
                 round(CAST(SUM(CAST(nlp AS DECIMAL(24,12))) AS DOUBLE)
                       / COUNT(*), 6) AS avg_neglogp
          FROM nlps GROUP BY doc_id
        ),
        scored AS (
          SELECT d.doc_id, COALESCE(avg_neglogp, 0.0) AS avg_neglogp
          FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
        )
"""

ORACLE["d57_perplexity_buckets"] = _D32_AGG_SQL + """
        SELECT doc_id, avg_neglogp,
               CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                    ELSE 'tail' END AS bucket,
               tercile <= 2 AS kept
        FROM (
          SELECT *, NTILE(3) OVER (ORDER BY avg_neglogp, doc_id) AS tercile
          FROM scored
        )
"""


#: sentinel ids sit outside every fixture id domain; the sentinel ROW
#: exists only to advance the event-time watermark past the last real
#: purchase so unmatched left rows can finalize (see docstring).
_S14_SENTINEL_UID = -999


def s14_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the semantics milestone
    past s13's inner join: a purchase with NO click in the preceding
    hour must still emit, with NULL click columns, and it may only do
    so once the watermark PROVES no matching click can still arrive.
    The inner join never exercises state-store eviction correctness
    (late emission is merely latency); the outer join turns eviction
    into output, so an eviction bug becomes a row diff against the
    batch left join.

    Watermark-closure device: a left-outer row for purchase p finalizes
    only when the global watermark passes p_ts (the latest click that
    could match is at p_ts exactly), and the watermark trails the max
    SEEN event time by the 2-hour delay — so without help, every
    purchase in the last 2 h of the fixture would sit in state forever
    and the stream would emit a SUBSET of the batch join. Each staged
    side therefore ends with one SENTINEL chunk (user_id -999, outside
    the fixture domain, event time = max(ts) + 4 h): processing it
    advances both sides' watermarks past every real purchase, and the
    engine's no-data final micro-batch flushes the remaining unmatched
    state before availableNow terminates. Sentinel rows are dropped
    from the output by user_id. This is exactly how a production
    pipeline closes the books on a bounded replay — a real unbounded
    stream finalizes continuously as the watermark advances.

    State sizing: shuffle partitions pinned to 4 around the stream and
    restored after (the s13 measurement: per-partition-per-batch state
    cost), exactly as a production job sizes partitions to state
    volume."""
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

    # input preparation only (the s13 convention): the stream itself runs
    # fresh on every call with new checkpoint + state stores
    def stage() -> tuple[str, str]:
        tmp = scratch("s14")
        p_path = stage_replay_dir(
            purchases, tmp + "/p", chunks=3,
            order_col="p_ts", shuffle_time_order=False,
        )
        c_path = stage_replay_dir(
            clicks, tmp + "/c", chunks=3,
            order_col="c_ts", shuffle_time_order=False,
        )
        far = ev.agg(
            (F.max(F.unix_micros("ts")) + F.lit(4 * 3_600_000_000)).alias("us")
        ).first()["us"]
        sent_ts = F.timestamp_micros(F.lit(int(far)))
        # sentinels are LITERAL 1-row frames (never X.limit(1): a side
        # with zero real rows — purchases but no clicks — would then
        # stage an EMPTY sentinel chunk, the global min-watermark would
        # stay at epoch, and the stream would silently emit a SUBSET)
        one = spark.range(1)
        one.select(
            F.lit(-1).cast("long").alias("p_id"),
            F.lit(_S14_SENTINEL_UID).cast("long").alias("user_id"),
            sent_ts.alias("p_ts"),
        ).coalesce(1).write.parquet(p_path + "/chunk=3")
        one.select(
            F.lit(-1).cast("long").alias("c_id"),
            F.lit(_S14_SENTINEL_UID).cast("long").alias("c_user"),
            sent_ts.alias("c_ts"),
        ).coalesce(1).write.parquet(c_path + "/chunk=3")
        return p_path, c_path

    p_path, c_path = corpus_memo("s14", sf_dir, stage)
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
        "left_outer",
    )
    name = "poe_s14_join"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    # state volume = both sides' arrivals per micro-batch
    from python_openetl_spark.streaming.sources import replay_rows_per_batch

    rpb = replay_rows_per_batch(p_path) + replay_rows_per_batch(c_path)
    spark.conf.set("spark.sql.shuffle.partitions", str(stream_state_partitions(rpb)))
    try:
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", scratch("s14_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("s14: left-outer stream join did not finish in 300s")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (
        spark.table(name)
        .filter(F.col("user_id") != _S14_SENTINEL_UID)
        .select(
            "p_id",
            "user_id",
            F.unix_micros("p_ts").alias("purchase_us"),
            "c_id",
            F.unix_micros("c_ts").alias("click_us"),
        )
    )


QUERIES["s14_stream_stream_left_join"] = s14_stream_stream_left_join

ORACLE["s14_stream_stream_left_join"] = """
    SELECT p.event_id AS p_id, p.user_id,
           epoch_us(p.ts) AS purchase_us,
           c.event_id AS c_id,
           epoch_us(c.ts) AS click_us
    FROM events p LEFT JOIN events c
      ON p.user_id = c.user_id
     AND c.event_type = 'click'
     AND epoch_us(c.ts) <= epoch_us(p.ts)
     AND epoch_us(c.ts) > epoch_us(p.ts) - 3600000000
    WHERE p.event_type = 'purchase'
"""


#: mm08's frame-aligned "new container header": exactly 2 frames of
#: 32 int16 samples (128 bytes), so the copy's frames align with the
#: original's and every interior constellation hash is shared.
_MM08_PAD = bytes(range(128, 192)) + bytes(range(0, 64))


def mm08_audio_constellation_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup via Shazam-style constellation fingerprints
    (operators/multimodal.py audio_constellation_fingerprints): every
    10th+5 payload long enough for >= 6 frames is re-ingested with a
    frame-ALIGNED 2-frame prefix pad (the remuxed-with-new-header
    shape). Constellation hashes carry only (peak f1, peak f2, dt) —
    relative offsets — so the copy shares every interior hash
    deterministically under the int16-PCM fake decode, while the FFT
    landmark extraction, the banding, the fanout pairing, and the
    rollup are the machinery under test: a break in any of them drops
    planted rows and fails the row-count gate. Only 8-byte hashes
    shuffle; payload bytes never leave the scan."""
    from python_openetl_spark.operators.multimodal import (
        audio_constellation_near_dup,
    )

    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.col("text") != ""))
        .select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    )
    planted = d.filter(
        (F.col("doc_id") % 10 == 5) & (F.length("payload") >= 384)
    )
    copies = planted.select(
        (F.col("doc_id") + 9_000_000).alias("doc_id"),
        F.concat(F.lit(_MM08_PAD), F.col("payload")).alias("payload"),
    )
    pairs = audio_constellation_near_dup(
        d.unionByName(copies), "payload", "doc_id",
        frame_samples=32, fanout=2,
    )
    return pairs.filter(
        (F.col("doc_b") == F.col("doc_a") + 9_000_000)
        & (F.col("doc_a") % 10 == 5)
    ).select("doc_a", "doc_b", (F.col("n_shared_hashes") >= 1).alias("matched"))


QUERIES["mm08_audio_constellation_near_dup"] = mm08_audio_constellation_near_dup

ORACLE["mm08_audio_constellation_near_dup"] = """
    SELECT doc_id AS doc_a, doc_id + 9000000 AS doc_b, TRUE AS matched
    FROM documents
    WHERE text IS NOT NULL AND text <> '' AND doc_id % 10 = 5
      AND octet_length(encode(text)) >= 384
"""


def s15_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-window aggregation as a REAL replayed stream — the
    stateful-aggregation milestone s03 (the batch twin) cannot prove:
    session windows MERGE as events arrive (two open sessions bridged
    by a late-enough event must collapse into one state entry), and a
    session may only EMIT once the watermark proves it can no longer
    grow. Events replay in three event-time-ordered chunks with a
    2-hour watermark (no real row is ever behind it, the s13 staging
    rule); a final frame-of-reference SENTINEL event (user -999,
    max(ts) + 4 h) advances the watermark past every real session's
    close so availableNow's no-data final batch flushes ALL sessions —
    the emitted set must equal s03's batch result exactly. Gap 30 min,
    the s03 convention; same DECIMAL-exact value sums."""
    from python_openetl_spark.streaming.sources import (
        read_file_stream,
        stage_replay_dir,
    )

    ev = t(spark, sf_dir, "events")
    if not nonempty(sf_dir, "events"):
        return spark.createDataFrame(
            [],
            "session_start long, user_id long, n_events long, total_value double",
        )
    base = ev.select("user_id", "ts", "value")

    def stage() -> str:  # input preparation only (the s13 convention)
        staged = stage_replay_dir(
            base, scratch("s15") + "/ev", chunks=3, order_col="ts",
            shuffle_time_order=False,
        )
        far = ev.agg(
            (F.max(F.unix_micros("ts")) + F.lit(4 * 3_600_000_000)).alias("us")
        ).first()["us"]
        spark.range(1).select(
            F.lit(_S14_SENTINEL_UID).cast("long").alias("user_id"),
            F.timestamp_micros(F.lit(int(far))).alias("ts"),
            F.lit(0.0).alias("value"),
        ).coalesce(1).write.parquet(staged + "/chunk=3")
        return staged

    staged = corpus_memo("s15", sf_dir, stage)
    stream = read_file_stream(spark, staged, base.schema).withWatermark(
        "ts", "2 hours"
    )
    sess = (
        stream.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(24,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            "user_id",
            "n_events",
            "total_value",
        )
    )
    name = "poe_s15_sessions"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    from python_openetl_spark.streaming.sources import replay_rows_per_batch

    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(stream_state_partitions(replay_rows_per_batch(staged))),
    )
    try:
        q = (
            sess.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", scratch("s15_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("s15: session stream did not finish in 300s")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name).filter(F.col("user_id") != _S14_SENTINEL_UID)


QUERIES["s15_stream_session_windows"] = s15_stream_session_windows

ORACLE["s15_stream_session_windows"] = """
    WITH ordered AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTES
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    islands AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered
    )
    SELECT epoch_us(MIN(ts)) // 1000000 AS session_start,
           user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(24,2))) AS DOUBLE) AS total_value
    FROM islands
    GROUP BY user_id, session_id
"""


def _k17_jsonl(spark: SparkSession, sf_dir: str) -> str:
    """The documents table staged once per corpus as one sorted JSONL
    file — k17's and s16's input preparation, not the scan under test."""
    import json

    def stage() -> str:
        rows = (
            t(spark, sf_dir, "documents")
            .select("doc_id", "lang", "text")
            .collect()
        )
        path = scratch("k17") + "/documents.jsonl"
        with open(path, "w") as f:
            for r in sorted(rows, key=lambda r: r["doc_id"]):
                f.write(
                    json.dumps(
                        {"doc_id": r["doc_id"], "lang": r["lang"], "text": r["text"]},
                        sort_keys=True,
                    )
                    + "\n"
                )
        return path

    return corpus_memo("k17", sf_dir, stage)


def k17_python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned scan through the Spark-4 PYTHON DataSource API
    (sources/pydatasource.py JsonlDataSource): the documents table
    staged as one JSONL file and read back as a first-class parallel
    source — byte-range splits sized by ``target_bytes`` (forced small
    here so the scan really runs multi-partition), each task aligning
    to line boundaries with the Hadoop text-split protocol (seek to
    start-1, discard one readline; read while pos < end). Every line is
    read by exactly ONE task no matter where splits fall, which is the
    property the full value-hash oracle checks: a double-read or a
    dropped straddler changes the row multiset. This is the reference's
    chunked feed-ingest loop (operations.py:486-513) as a planner-
    visible source instead of a driver loop."""
    from python_openetl_spark.sources.pydatasource import JsonlDataSource

    try:
        spark.dataSource.register(JsonlDataSource)
    except Exception:
        pass  # already registered in this session
    path = _k17_jsonl(spark, sf_dir)
    import os

    tb = max(1024, os.path.getsize(path) // 24)  # force ~24 splits
    return (
        spark.read.format("openetl_jsonl")
        .option("path", path)
        .option("schema", "doc_id bigint, lang string, text string")
        .option("target_bytes", str(tb))
        .load()
    )


QUERIES["k17_python_datasource_scan"] = k17_python_datasource_scan

ORACLE["k17_python_datasource_scan"] = """
    SELECT doc_id, lang, text FROM documents
"""


def m22_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counting-algorithm IVM for a JOIN view (operators/ivm.py,
    Gupta-Mumick 1995): an orders⋈lineitem view materialized with
    per-row multiplicities, then maintained through one CDC step that
    changes BOTH sides — inserts AND deletes on each — via
    Δ(A⋈B) = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB with multiplied
    multiplicities. The oracle recomputes the view from the POST-delta
    snapshots, so any missing term (the ΔA⋈ΔB cross term is the
    classic omission), a sign error, or a lost zero-count row breaks
    the hash. m07/m18 maintain aggregate views; this is the join-view
    verb the reference's sliding-window refresh approximates. Cost is
    delta-sized joins + one map-side-combinable count merge — the view
    is maintained for the price of the delta, never A⋈B."""
    from python_openetl_spark.operators.ivm import join_view, maintain_join_view

    a = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    b = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_linenumber", "l_returnflag"
    )
    a_old = a.filter(F.col("o_orderkey") % 7 != 0)
    b_old = b.filter(F.col("o_orderkey") % 3 != 0)
    delta_a = (
        a.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("mult", F.lit(1).cast("long"))
        .unionByName(
            a_old.filter(F.col("o_orderkey") % 5 == 1)
            .withColumn("mult", F.lit(-1).cast("long"))
        )
    )
    delta_b = (
        b.filter(F.col("o_orderkey") % 3 == 0)
        .withColumn("mult", F.lit(1).cast("long"))
        .unionByName(
            b_old.filter(F.col("l_linenumber") == 2)
            .withColumn("mult", F.lit(-1).cast("long"))
        )
    )
    view = join_view(a_old, b_old, "o_orderkey")
    return maintain_join_view(view, a_old, b_old, delta_a, delta_b, "o_orderkey")


QUERIES["m22_incremental_join_view"] = m22_incremental_join_view

ORACLE["m22_incremental_join_view"] = """
    WITH a_new AS (
      SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
      WHERE o_orderkey % 7 = 0 OR o_orderkey % 5 <> 1
    ),
    b_new AS (
      SELECT l_orderkey AS o_orderkey, l_linenumber, l_returnflag
      FROM lineitem
      WHERE l_orderkey % 3 = 0 OR l_linenumber <> 2
    )
    SELECT a.o_orderkey, o_custkey, o_orderpriority,
           l_linenumber, l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS mult
    FROM a_new a JOIN b_new b USING (o_orderkey)
    GROUP BY ALL
"""


def e10_ccnet_quality_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet pipeline end-to-end (Wenzek et al. 2020), round-10
    composite: paragraph-level dedup with document reconstruction
    (d55) → corpus unigram LM scored over the DEDUPED text (the honest
    order — scoring before dedup lets boilerplate mass distort the LM)
    → exact head/middle/tail terciles via global_ntile (d57's device)
    → keep head+middle → per-language corpus report (docs, tokens).
    Four stages, one driver row; each keeps its individual scale shape
    (ids-only dedup decision, vocabulary-sized broadcast LM, banded
    two-pass NTILE, final tiny agg). A reassembly bug, an LM drift, or
    a tercile boundary flip each changes the report."""
    from python_openetl_spark.operators.dedup import paragraph_dedup
    from python_openetl_spark.operators.ranking import global_ntile
    from python_openetl_spark.operators.textops import unigram_logprob_score

    docs = t(spark, sf_dir, "documents")
    # the deduped corpus is read twice by the LM scorer (explode pass +
    # zero-token left join); materialize the reassembled text once (r14)
    dd = (
        paragraph_dedup(docs, para_tokens=12)
        .filter(F.col("n_kept") >= 1)
        .select("doc_id", F.col("text_dedup").alias("text"))
    )
    dd = pin(dd)
    scored = unigram_logprob_score(dd)
    terc = global_ntile(
        scored.select("doc_id", "n_tokens", "avg_neglogp"),
        "avg_neglogp", ["doc_id"], k=3, descending=False, out_col="tercile",
    )
    kept = terc.filter(F.col("tercile") <= 2).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .select("lang", "n_docs", "n_tokens")
    )


QUERIES["e10_ccnet_quality_corpus"] = e10_ccnet_quality_corpus

_E10_TOKS = (
    "list_filter(regexp_split_to_array(lower({col}), '[^a-z0-9]+'),"
    " x -> x <> '')"
)

ORACLE["e10_ccnet_quality_corpus"] = f"""
    WITH tk AS (SELECT doc_id, {_E10_TOKS.format(col="text")} AS toks
                FROM documents),
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
    dtk AS (
      SELECT doc_id, {_E10_TOKS.format(col="text_dedup")} AS toks
      FROM dedup WHERE n_kept >= 1
    ),
    ex AS (SELECT doc_id, unnest(toks) AS tok FROM dtk),
    freq AS (SELECT tok, COUNT(*) AS n FROM ex GROUP BY tok),
    tot AS (SELECT COUNT(*) AS total FROM ex),
    nlps AS (
      SELECT e.doc_id, round(-ln(f.n::DOUBLE / t.total), 9) AS nlp
      FROM ex e JOIN freq f USING (tok) CROSS JOIN tot t
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             round(CAST(SUM(CAST(nlp AS DECIMAL(24,12))) AS DOUBLE)
                   / COUNT(*), 6) AS avg_neglogp
      FROM nlps GROUP BY doc_id
    ),
    scored AS (
      SELECT d.doc_id,
             COALESCE(a.n_tokens, 0) AS n_tokens,
             COALESCE(a.avg_neglogp, 0.0) AS avg_neglogp
      FROM dtk d LEFT JOIN agg a USING (doc_id)
    ),
    terc AS (
      SELECT doc_id, n_tokens,
             NTILE(3) OVER (ORDER BY avg_neglogp, doc_id) AS tercile
      FROM scored
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM terc JOIN documents USING (doc_id)
    WHERE tercile <= 2
    GROUP BY lang
"""


def s16_stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ingest through the custom Python DataSource
    (sources/pydatasource.py JsonlStreamReader): the k17 JSONL file
    replayed as a real micro-batch stream whose offsets are byte
    positions on line starts — each batch reads ~1/6 of the file
    (extended to complete its last line), and the (start, end) offset
    pair is exactly reproducible (``readBetweenOffsets``, the
    exactly-once recovery contract). The query drains until the
    committed offset reaches EOF (availableNow snapshots only the
    FIRST read() of a simple stream reader — measured — so the drain
    condition is the source's own offset, the honest completion test
    for a custom source) and the collected rows must equal the batch
    table exactly: a lost batch, a re-read slice, or a line split
    across offsets all change the row multiset."""
    import ast
    import os
    import time

    from python_openetl_spark.sources.pydatasource import JsonlDataSource

    try:
        spark.dataSource.register(JsonlDataSource)
    except Exception:
        pass
    path = _k17_jsonl(spark, sf_dir)  # k17's staged file
    size = os.path.getsize(path)
    stream = (
        spark.readStream.format("openetl_jsonl")
        .option("path", path)
        .option("schema", "doc_id bigint, lang string, text string")
        .option("batch_bytes", str(max(1024, size // 6)))
        .load()
    )
    name = "poe_s16_ingest"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", scratch("s16_ckpt"))
        # back-to-back triggers: with 6 byte-offset batches a 50 ms
        # cadence added ~0.3 s of pure inter-batch dead time (r14); the
        # drain condition below, not the trigger clock, ends the query
        .trigger(processingTime="0 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 300
        while time.time() < deadline:
            p = q.lastProgress
            if p and p["sources"]:
                end = p["sources"][0].get("endOffset")
                if isinstance(end, str):
                    # the progress event reprs the offset dict (single
                    # quotes, not JSON) — literal_eval handles both
                    end = ast.literal_eval(end)
                if end and int(end["pos"]) >= size:
                    break
            time.sleep(0.02)
        else:
            raise RuntimeError("s16: stream did not reach EOF within 300s")
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


QUERIES["s16_stream_python_datasource"] = s16_stream_python_datasource

ORACLE["s16_stream_python_datasource"] = """
    SELECT doc_id, lang, text FROM documents
"""


def k18_python_datasource_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE path of the custom Python DataSource
    (sources/pydatasource.py JsonlWriter): the documents table written
    through ``df.write.format("openetl_jsonl")`` — every task streams
    its partition into a uniquely-named temp part, the driver commit
    publishes exactly the messaged parts with atomic renames (a failed
    or speculative task's orphan never appears), abort leaves the
    destination untouched — then read back through the source's own
    partitioned reader (directory scan, byte-range splits). The full
    value-hash oracle checks the complete write→commit→read cycle:
    a dropped part, a double-published temp, or a serialization
    mismatch between writer and reader all change the row multiset."""
    import os

    from python_openetl_spark.sources.pydatasource import JsonlDataSource

    try:
        spark.dataSource.register(JsonlDataSource)
    except Exception:
        pass
    out = scratch("k18") + "/docs"
    os.makedirs(out)
    (
        t(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .repartition(6)
        .write.format("openetl_jsonl")
        .option("path", out)
        .mode("append")
        .save()
    )
    return (
        spark.read.format("openetl_jsonl")
        .option("path", out)
        .option("schema", "doc_id bigint, lang string, text string")
        .option("target_bytes", "65536")
        .load()
    )


QUERIES["k18_python_datasource_write_roundtrip"] = k18_python_datasource_write_roundtrip

ORACLE["k18_python_datasource_write_roundtrip"] = """
    SELECT doc_id, lang, text FROM documents
"""
