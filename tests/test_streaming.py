"""Structured Streaming tests: micro-batch replay of the events table
with out-of-order arrival; window aggs match batch equivalents;
watermark dedup; foreachBatch upsert sink (idempotent by batch id)."""

from __future__ import annotations

from pyspark.sql import functions as F

from python_openetl_spark.io import load_table
from python_openetl_spark.plans.pipelines import ParquetTable
from python_openetl_spark.streaming.dedup import (
    stream_dedup,
    stream_dedup_within_watermark,
)
from python_openetl_spark.streaming.sinks import UpsertSink
from python_openetl_spark.streaming.sources import read_file_stream, stage_replay_dir
from python_openetl_spark.streaming.windows import tumbling_window_agg, with_watermark
from tests.conftest import SF_DIR


def _events(spark):
    return load_table(spark, SF_DIR, "events")


def _replay_stream(spark, tmp_path, df, chunks=4):
    path = stage_replay_dir(df, str(tmp_path / "replay"), chunks=chunks)
    return read_file_stream(spark, path, df.schema)


def _replay_in_query(spark, query, sink, batch_df, batch_id):
    """Re-offer ``batch_id`` to ``sink`` as the restarted ``query`` would:
    inside ``foreachBatch`` Spark sets the query id as a local property,
    and the sinks' replay markers are scoped by it."""
    sc = spark.sparkContext
    sc.setLocalProperty("sql.streaming.queryId", query.id)
    try:
        sink(batch_df, batch_id=batch_id)
    finally:
        sc.setLocalProperty("sql.streaming.queryId", None)


def _drop_last_commit(ckpt):
    """Forget the last committed micro-batch of a checkpoint, as a crash
    between the sink's write and Spark's commit would: a restart from
    ``ckpt`` re-runs that batch under the same batch id."""
    import os

    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    return last


def _run_to_completion(stream_df, mode, tmp_path, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_streaming_tumbling_window_matches_batch(spark, tmp_path):
    ev = _events(spark)
    stream = _replay_stream(spark, tmp_path, ev)
    agg = tumbling_window_agg(with_watermark(stream, "ts", "30 days"))
    _run_to_completion(agg, "complete", tmp_path, "tumbling")
    got = spark.sql("SELECT * FROM tumbling").toPandas()
    want = tumbling_window_agg(ev).toPandas()
    key = lambda p: sorted(map(tuple, p[["window_start", "event_type", "n_events", "total_value"]].values.tolist()))
    assert key(got) == key(want)


def test_streaming_dedup_drops_replayed_keys(spark, tmp_path):
    ev = _events(spark).select("event_id", "ts", "value")
    doubled = ev.unionByName(ev)  # every key arrives twice
    stream = _replay_stream(spark, tmp_path, doubled, chunks=3)
    deduped = stream_dedup(stream, keys=("event_id",), ts_col="ts", delay="30 days")
    _run_to_completion(deduped, "append", tmp_path, "dedup")
    got = spark.sql("SELECT count(*) c, count(distinct event_id) d FROM dedup").collect()[0]
    assert got["c"] == got["d"] == ev.count()


def test_streaming_dedup_within_watermark_drops_near_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a duplicate that arrives within
    the delay of the first occurrence is dropped; with availableNow
    replay every planted near-duplicate falls inside retained state, so
    exactly one row per key survives (the workload's s08 batch twin
    states the same semantics for DuckDB). The delay must also cover
    the replay's event-time disorder — the chunks are row-ordered, not
    time-ordered, so a tight delay would drop genuinely-first arrivals
    as late data once the watermark has advanced past them."""
    ev = _events(spark).select("event_id", "ts", "value").limit(300)
    near = ev.withColumn("ts", F.col("ts") + F.expr("INTERVAL 2 MINUTES")).withColumn(
        "value", F.col("value") + F.lit(1000.0)
    )
    stream = _replay_stream(spark, tmp_path, ev.unionByName(near), chunks=3)
    deduped = stream_dedup_within_watermark(
        stream, keys=("event_id",), ts_col="ts", delay="30 days"
    )
    _run_to_completion(deduped, "append", tmp_path, "dedup_within")
    got = spark.sql(
        "SELECT count(*) c, count(distinct event_id) d FROM dedup_within"
    ).collect()[0]
    assert got["c"] == got["d"] == ev.count()


def test_stateful_running_totals(spark, tmp_path):
    from python_openetl_spark.streaming.stateful import running_user_totals

    ev = _events(spark).select("event_id", "user_id", "ts", "value")
    stream = _replay_stream(spark, tmp_path, ev, chunks=3)
    totals = running_user_totals(stream)
    _run_to_completion(totals, "update", tmp_path, "stateful")
    emitted = spark.sql("SELECT * FROM stateful").toPandas()
    # state emits a row per (batch, key); final value = row with max n_events
    final = emitted.sort_values("n_events").groupby("user_id").last()
    want = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
            F.max("ts").alias("last_ts"),
        )
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    final = final.sort_index()
    assert (final.n_events == want.n_events).all()
    assert (abs(final.total_value - want.total_value) < 1e-6).all()
    assert (final.last_ts == want.last_ts).all()


def test_stream_static_enrichment(spark, tmp_path):
    from python_openetl_spark.streaming.joins import enrich_with_static

    ev = _events(spark).select("event_id", "ts", "event_type")
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.5), ("purchase", 10.0), ("signup", 5.0), ("error", 0.0)],
        "event_type string, weight double",
    )
    stream = _replay_stream(spark, tmp_path, ev, chunks=3)
    enriched = enrich_with_static(stream, dim, "event_type")
    _run_to_completion(enriched, "append", tmp_path, "enriched")
    got = spark.sql("SELECT count(*) c, count(weight) w FROM enriched").collect()[0]
    assert got["c"] == ev.count() and got["w"] == ev.count()


def test_stream_stream_interval_join(spark, tmp_path):
    from python_openetl_spark.streaming.joins import interval_join

    ev = _events(spark)
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.col("ts").alias("r_ts")
    )
    ls = _replay_stream(spark, tmp_path / "l", purchases, chunks=2)
    rs = _replay_stream(spark, tmp_path / "r", clicks, chunks=2).withColumnRenamed(
        "event_id", "click_id"
    )
    clicks = clicks.withColumnRenamed("event_id", "click_id")
    joined = interval_join(
        ls, rs, by="user_id", left_ts="ts", right_ts="r_ts",
        max_delay="1 hour", watermark="30 days",
    )
    _run_to_completion(joined, "append", tmp_path, "sjoin")
    got = spark.sql("SELECT count(*) c FROM sjoin").collect()[0]["c"]
    # batch equivalent of the same interval condition
    want = (
        purchases.alias("p")
        .join(
            clicks.alias("c"),
            (F.col("p.user_id") == F.col("c.user_id"))
            & (F.col("c.r_ts") <= F.col("p.ts"))
            & (F.col("c.r_ts") > F.col("p.ts") - F.expr("INTERVAL 1 HOUR")),
        )
        .count()
    )
    assert got == want and want > 0


def test_stream_stream_outer_interval_join_flushes_nulls(spark, tmp_path):
    """Left-outer interval join emits unmatched purchases with NULL
    click columns — but only once the watermark proves no match can
    arrive. A far-future sentinel row appended to BOTH streams as a
    final micro-batch advances both watermarks past all real data, so
    every real unmatched purchase must have been flushed when the
    query stops (without the sentinel batch, rows near stream end
    would legitimately stay buffered — that is the semantics, not a
    bug)."""
    import os

    from python_openetl_spark.streaming.joins import interval_join_outer

    ev = _events(spark)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), "user_id", F.col("ts").alias("r_ts")
    )
    flush_ts = "3000-01-01 00:00:00"

    def staged(df, name, ts_col):
        path = stage_replay_dir(
            df, str(tmp_path / name), chunks=2, order_col=df.schema.fieldNames()[0]
        )
        sentinel = spark.createDataFrame(
            [(-1, -1, flush_ts)], df.schema.fieldNames()
        ).select(
            F.col(df.schema.fieldNames()[0]).cast("long"),
            F.col("user_id").cast("long"),
            F.col(ts_col).cast("timestamp"),
        )
        # written after the real chunks -> later mod time -> processed
        # as the final micro-batch
        sentinel.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(path, "chunk=zz")
        )
        return read_file_stream(spark, path, df.schema)

    joined = interval_join_outer(
        staged(purchases, "l", "ts"),
        staged(clicks, "r", "r_ts"),
        by="user_id",
        left_ts="ts",
        right_ts="r_ts",
        max_delay="1 hour",
        watermark="1 minute",
    )
    _run_to_completion(joined, "append", tmp_path, "sojoin")
    got = spark.sql("SELECT * FROM sojoin WHERE user_id >= 0").toPandas()
    want = (
        purchases.alias("p")
        .join(
            clicks.alias("c"),
            (F.col("p.user_id") == F.col("c.user_id"))
            & (F.col("c.r_ts") <= F.col("p.ts"))
            & (F.col("c.r_ts") > F.col("p.ts") - F.expr("INTERVAL 1 HOUR")),
            "left_outer",
        )
        .count()
    )
    assert len(got) == want
    # outer semantics actually exercised: some purchases are unmatched,
    # and every purchase id appears
    assert got["c_id"].isna().sum() > 0
    assert set(got["p_id"]) == {r.p_id for r in purchases.collect()}


def test_foreachbatch_upsert_sink(spark, tmp_path):
    ev = _events(spark).select("event_id", "ts", "value")
    stream = _replay_stream(spark, tmp_path, ev, chunks=3)
    table = ParquetTable(str(tmp_path / "sink_tbl"))
    sink = UpsertSink(table, pk="event_id", order_col="ts")
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_sink"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = table.read(spark)
    assert got.count() == ev.count()
    # idempotence: replaying an old batch id is a no-op
    before = got.count()
    _replay_in_query(spark, q, sink, ev.limit(5).withColumn("value", F.lit(-1.0)), 0)
    assert table.read(spark).count() == before
    assert table.read(spark).filter(F.col("value") == -1.0).count() == 0


def test_foreachbatch_scd2_sink_builds_history(spark, tmp_path):
    from python_openetl_spark.streaming.sinks import Scd2Sink

    table = ParquetTable(str(tmp_path / "scd_tbl"))
    sink = Scd2Sink(table, pk="user_id", ts_col="ts")
    # per-user latest event_type as the tracked attribute, replayed in
    # time order so later chunks carry genuine attribute changes
    ev = (
        _events(spark)
        .select("user_id", "ts", "event_type")
        .filter(F.col("user_id") < 50)
    )
    path = stage_replay_dir(
        ev, str(tmp_path / "scd_replay"), chunks=3,
        order_col="ts", shuffle_time_order=False,
    )
    stream = read_file_stream(spark, path, ev.schema)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_scd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    hist = table.read(spark)
    users = ev.select("user_id").distinct().count()
    # exactly one open version per user; closed history is consistent
    cur = hist.filter("is_current")
    assert cur.count() == users
    assert hist.filter("NOT is_current AND valid_to IS NULL").count() == 0
    assert hist.count() >= users
    # replaying an old batch id is a no-op
    before = hist.count()
    _replay_in_query(spark, q, sink, ev.withColumn("event_type", F.lit("bogus")), 0)
    assert table.read(spark).count() == before


def test_stateful_v2_kernel_without_protocol():
    """Drive RunningTotalsProcessor directly with a fake state handle —
    the kernel logic (state init, per-batch accumulation, emission)
    executes even where google.protobuf is absent and the state-server
    protocol test above skips. The protocol round-trip itself stays
    env-gated (transform_with_state_available)."""
    import pandas as pd

    from python_openetl_spark.streaming.stateful_v2 import (
        _STATE_SCHEMA,
        RunningTotalsProcessor,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class FakeHandle:
        def __init__(self):
            self.states = {}
            self.ttls = {}

        def getValueState(self, name, schema, ttl_ms=None):
            assert schema == _STATE_SCHEMA
            self.ttls[name] = ttl_ms
            return self.states.setdefault(name, FakeValueState())

    proc = RunningTotalsProcessor("value", ttl_ms=60_000)
    handle = FakeHandle()
    proc.init(handle)
    assert handle.ttls == {"totals": 60_000}  # TTL reaches the store

    # micro-batch 1: two chunks for the same key accumulate
    out1 = list(proc.handleInputRows(
        (7,),
        iter([pd.DataFrame({"value": [1.0, 2.0]}), pd.DataFrame({"value": [3.0]})]),
        None,
    ))
    assert len(out1) == 1
    assert out1[0].iloc[0].to_dict() == {"user_id": 7, "n_events": 3, "total_value": 6.0}

    # micro-batch 2: state persists across batches
    out2 = list(proc.handleInputRows(
        (7,), iter([pd.DataFrame({"value": [4.0]})]), None
    ))
    assert out2[0].iloc[0].to_dict() == {"user_id": 7, "n_events": 4, "total_value": 10.0}
    assert handle.states["totals"].get() == (4, 10.0)
    proc.close()


def test_stateful_v2_running_totals(spark, tmp_path):
    import pytest

    from python_openetl_spark.streaming.stateful_v2 import (
        TRANSFORM_WITH_STATE_CONFS,
        running_user_totals_v2,
        transform_with_state_available,
    )

    if not transform_with_state_available():
        pytest.skip("google.protobuf not installed (transformWithState state-server protocol)")

    ev = _events(spark).select("event_id", "user_id", "value")
    before = {k: spark.conf.get(k, None) for k in TRANSFORM_WITH_STATE_CONFS}
    for k, v in TRANSFORM_WITH_STATE_CONFS.items():
        spark.conf.set(k, v)
    try:
        stream = _replay_stream(spark, tmp_path, ev, chunks=3)
        totals = running_user_totals_v2(stream)
        _run_to_completion(totals, "update", tmp_path, "stateful_v2")
        emitted = spark.sql("SELECT * FROM stateful_v2").toPandas()
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # last emission per key must equal the batch aggregate
    last = emitted.groupby("user_id").last()
    want = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .toPandas()
        .set_index("user_id")
    )
    assert (last["n_events"].sort_index() == want["n_events"].sort_index()).all()
    import numpy as np
    got_t = last["total_value"].sort_index().to_numpy()
    want_t = want["total_value"].sort_index().to_numpy()
    assert np.allclose(got_t, want_t, rtol=1e-9)


def test_dedup_ingest_sink_dedups_across_batches_and_replays(spark, tmp_path):
    from python_openetl_spark.streaming.sinks import DedupIngestSink

    docs = spark.createDataFrame(
        [(1, "alpha content"), (2, "beta content"), (3, "alpha content"),
         (4, "gamma content"), (5, "beta content"), (6, "delta content")],
        "doc_id long, text string",
    )
    corpus, store = str(tmp_path / "corpus"), str(tmp_path / "store")
    sink = DedupIngestSink(corpus, store)
    # batch 0: ids 1-3 (alpha, beta, alpha-dup) -> keeps 1, 2
    sink(docs.filter(F.col("doc_id") <= 3), batch_id=0)
    # batch 1: ids 4-6 (gamma, beta-dup-of-store, delta) -> keeps 4, 6
    sink(docs.filter(F.col("doc_id") > 3), batch_id=1)
    kept = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert kept == {1, 2, 4, 6}
    # replayed batch 1 (crash-recovery): rewrites its partition, no dupes
    sink(docs.filter(F.col("doc_id") > 3), batch_id=1)
    assert {r["doc_id"] for r in spark.read.parquet(corpus).collect()} == {1, 2, 4, 6}
    assert spark.read.parquet(store).count() == 4  # one fp per distinct content


def test_dedup_ingest_sink_from_real_stream(spark, tmp_path):
    from python_openetl_spark.streaming.sinks import DedupIngestSink

    ev = _events(spark).select(
        F.col("event_id").alias("doc_id"),
        F.concat(F.col("event_type"), F.lit(" "), (F.col("user_id") % 5).cast("string")).alias("text"),
    ).limit(200)
    path = stage_replay_dir(ev, str(tmp_path / "replay_di"), chunks=3, order_col="doc_id")
    stream = read_file_stream(spark, path, ev.schema)
    corpus = str(tmp_path / "s_corpus")
    sink = DedupIngestSink(corpus, str(tmp_path / "s_store"))
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup_ingest"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(corpus).select("text")
    # corpus contains each distinct content exactly once
    assert got.count() == got.distinct().count()
    assert got.distinct().count() == ev.select("text").distinct().count()


def test_upsert_sink_second_stream_is_not_dropped(spark, tmp_path):
    """A NEW stream into the same table (fresh checkpoint, so its batch
    ids restart at 0) lands its rows: the replay marker is scoped by
    streaming query, so stream A's last batch id (1) cannot swallow
    stream B's batch 0."""
    table = ParquetTable(str(tmp_path / "two_stream_tbl"))
    schema = "event_id long, ts long, value double"
    streams = {
        "a": spark.createDataFrame([(1, 10, 1.0), (2, 20, 2.0)], schema),
        "b": spark.createDataFrame([(3, 30, 3.0)], schema),
    }
    for name, df in streams.items():
        src = stage_replay_dir(
            df, str(tmp_path / f"replay_{name}"), chunks=df.count(),
            shuffle_time_order=False,
        )
        q = (
            read_file_stream(spark, src, df.schema)
            .writeStream.foreachBatch(UpsertSink(table, pk="event_id", order_col="ts"))
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    assert sorted(r["event_id"] for r in table.read(spark).collect()) == [1, 2, 3]


def test_upsert_sink_dedups_table_creating_first_batch(spark, tmp_path):
    table = ParquetTable(str(tmp_path / "first_batch_tbl"))
    sink = UpsertSink(table, pk="event_id", order_col="ts")
    first = spark.createDataFrame(
        [(1, 10, 1.0), (1, 20, 2.0), (2, 10, 3.0)], "event_id long, ts long, value double"
    )
    sink(first, batch_id=0)
    got = {r["event_id"]: r["value"] for r in table.read(spark).collect()}
    # duplicate pk collapsed on the very first batch (last-write-wins)
    assert got == {1: 2.0, 2: 3.0}


def test_neardup_ingest_sink_rejects_near_dups_and_replays(spark, tmp_path):
    from python_openetl_spark.streaming.sinks import NearDupIngestSink

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, base), (2, "completely different content about spark engines and parquet"),
         (3, base + " zzz"),          # near-dup of 1 (twin collision)
         (4, base),                    # exact dup of 1
         (5, "yet another unrelated document talking about window functions")],
        "doc_id long, text string",
    )
    corpus, store = str(tmp_path / "nd_corpus"), str(tmp_path / "nd_store")
    sink = NearDupIngestSink(corpus, store)
    sink(docs.filter(F.col("doc_id") <= 2), batch_id=0)   # keeps 1, 2
    sink(docs.filter(F.col("doc_id") > 2), batch_id=1)    # 3,4 collide with store; keeps 5
    kept = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert kept == {1, 2, 5}
    # crash replay of batch 1: byte-identical rewrite, no duplicates
    sink(docs.filter(F.col("doc_id") > 2), batch_id=1)
    assert {r["doc_id"] for r in spark.read.parquet(corpus).collect()} == {1, 2, 5}


def test_neardup_ingest_sink_from_real_stream(spark, tmp_path):
    from python_openetl_spark.streaming.sinks import NearDupIngestSink

    ev = _events(spark).select(
        F.col("event_id").alias("doc_id"),
        F.concat(F.col("event_type"), F.lit(" stream content block "),
                 (F.col("user_id") % 4).cast("string")).alias("text"),
    ).limit(120)
    path = stage_replay_dir(ev, str(tmp_path / "replay_nd"), chunks=3, order_col="doc_id")
    stream = read_file_stream(spark, path, ev.schema)
    corpus = str(tmp_path / "snd_corpus")
    sink = NearDupIngestSink(corpus, str(tmp_path / "snd_store"))
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_nd_ingest"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(corpus).select("doc_id", "text")
    # exact duplicates never both survive
    assert got.count() == got.select("text").distinct().count()
    # the kept set is pairwise band-disjoint (the sink's core guarantee:
    # within a batch the min-id of a colliding group wins, across
    # batches a collision with the store rejects) — so no two surviving
    # docs share any LSH band key
    from python_openetl_spark.operators.dedup import minhash_band_keys

    keys = minhash_band_keys(got, "text", "doc_id")
    a, b = keys.alias("a"), keys.alias("b")
    collisions = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.k1") == F.col("b.k1"))
        & (F.col("a.k2") == F.col("b.k2"))
        & (F.col("a.doc") < F.col("b.doc")),
    ).count()
    assert collisions == 0
    # and at least one near-dup was actually rejected in this fixture
    assert got.count() < ev.select("text").distinct().count()


def test_cms_ingest_sink_merges_to_batch_sketch(spark, tmp_path):
    """Streaming CMS maintenance: replay the documents table in 4
    micro-batches through CmsIngestSink; the merged sketch must be
    BIT-IDENTICAL to one batch build over the whole corpus (linearity),
    estimates must carry the one-sided guarantee, and replaying a batch
    must change nothing (idempotent partition overwrite)."""
    from python_openetl_spark.io import load_table
    from python_openetl_spark.operators.sketches import cms_build
    from python_openetl_spark.streaming.sinks import CmsIngestSink

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    sink = CmsIngestSink(str(tmp_path / "cms_store"))
    path = stage_replay_dir(
        docs, str(tmp_path / "replay"), chunks=4, order_col="doc_id"
    )
    stream = read_file_stream(spark, path, docs.schema)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_cms"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    merged = sink.merged(spark)
    batch = cms_build(docs)
    assert merged.exceptAll(batch).count() == 0
    assert batch.exceptAll(merged).count() == 0

    # one-sided guarantee through the streaming path
    from python_openetl_spark.functions.text import tokens

    vocab = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok").agg(F.count(F.lit(1)).alias("true_count"))
    )
    est = sink.estimate(spark, vocab)
    assert est.filter(F.col("cms_est") < F.col("true_count")).count() == 0

    # crash-replay idempotence, self-contained: drive a fresh sink by
    # hand, snapshot the merged sketch, re-apply one batch, compare
    sink2 = CmsIngestSink(str(tmp_path / "cms_store2"))
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    sink2(b0, 0)
    sink2(b1, 1)
    snapshot = sink2.merged(spark).collect()
    sink2(b0, 0)  # replay after a simulated failure
    again = {(r["row"], r["bucket"]): r["cnt"] for r in sink2.merged(spark).collect()}
    assert again == {(r["row"], r["bucket"]): r["cnt"] for r in snapshot}


def test_chunk_ingest_sink_chunk_level_dedup_and_replay(spark, tmp_path):
    """ChunkIngestSink: chunks land once per distinct span fingerprint
    across batches (boilerplate shared BETWEEN different docs is kept
    once), first (doc_id, chunk_idx) owner wins, and a replayed batch
    rewrites its partition byte-identically."""
    from python_openetl_spark.streaming.sinks import ChunkIngestSink

    boiler = "the quick brown fox jumps over the lazy dog " * 2
    docs = spark.createDataFrame(
        [
            (1, boiler + "unique tail one"),
            (2, boiler + "unique tail two"),   # shares doc 1's leading chunks
            (3, "totally different content here"),
            (4, boiler + "unique tail one"),   # exact dup of doc 1
        ],
        "doc_id long, text string",
    )
    chunks_root, store = str(tmp_path / "chunks"), str(tmp_path / "cstore")
    sink = ChunkIngestSink(chunks_root, store, chunk_tokens=8, overlap=2)
    sink(docs.filter(F.col("doc_id") <= 2), batch_id=0)
    sink(docs.filter(F.col("doc_id") > 2), batch_id=1)
    got = spark.read.parquet(chunks_root)
    # every stored fingerprint appears exactly once
    assert got.count() == got.select("chunk_fp").distinct().count()
    # doc 4 (exact dup of doc 1, later batch) contributed nothing
    assert got.filter(F.col("doc_id") == 4).count() == 0
    # doc 2 contributed only its non-shared chunks
    from python_openetl_spark.operators.textops import chunk_documents

    all_chunks = chunk_documents(docs, chunk_tokens=8, overlap=2)
    n_distinct = all_chunks.select("chunk_fp").distinct().count()
    assert got.count() == n_distinct
    # shared chunks are owned by the smallest doc_id
    shared_owner = got.filter(F.col("chunk_idx") == 0).orderBy("chunk_fp").collect()
    assert all(r["doc_id"] in (1, 3) for r in shared_owner)
    # crash replay of batch 1: byte-identical state
    before = sorted((r["chunk_fp"], r["doc_id"]) for r in got.collect())
    sink(docs.filter(F.col("doc_id") > 2), batch_id=1)
    after = sorted(
        (r["chunk_fp"], r["doc_id"]) for r in spark.read.parquet(chunks_root).collect()
    )
    assert before == after


def test_transform_with_state_gate_consistent():
    """The protobuf gate must agree with the interpreter's reality:
    transform_with_state_available() iff google.protobuf is importable
    as a RUNTIME package (typeshed stubs don't count — they are not
    importable). Keeps the documented impossibility note honest: if a
    protobuf wheel ever lands in this environment, this stays green,
    the gate flips, and the protocol round-trip test above unskips."""
    import importlib.util

    from python_openetl_spark.streaming.stateful_v2 import (
        transform_with_state_available,
    )

    try:
        # find_spec raises when even the parent 'google' package is absent
        runtime_present = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        runtime_present = False
    assert transform_with_state_available() == runtime_present


def test_chained_stateful_aggs_stream(spark, tmp_path):
    """Two chained stateful aggregations (3.4+ multi-stateful pipeline)
    running as a REAL stream in append mode: with an in-order replay
    and a 1-hour watermark, every window whose end is strictly older
    than (max event time - 1h) must be emitted, each emitted row must
    equal its batch twin, and nothing can be emitted twice."""
    import datetime as dt

    from python_openetl_spark.streaming.windows import chained_window_agg

    ev = _events(spark).select("ts", "user_id", "value")
    path = stage_replay_dir(
        ev, str(tmp_path / "replay_chain"), chunks=4,
        order_col="ts", shuffle_time_order=False,
    )
    stream = read_file_stream(spark, path, ev.schema)
    agg = chained_window_agg(with_watermark(stream, "ts", "1 hour"))
    _run_to_completion(agg, "append", tmp_path, "chained")
    got = {
        tuple(r): None for r in spark.sql("SELECT * FROM chained").collect()
    }
    want_all = {tuple(r): None for r in chained_window_agg(ev).collect()}
    assert len(got) == spark.sql("SELECT COUNT(*) FROM chained").first()[0]  # no dups
    assert set(got) <= set(want_all)  # every emitted row equals its batch twin
    max_ts = ev.agg(F.max("ts")).first()[0]
    horizon = (max_ts - dt.timedelta(hours=2)).timestamp()  # window end + watermark
    must = {k for k in want_all if k[0] + 3600 <= horizon}
    assert must <= set(got), f"missing {len(must - set(got))} finalized windows"


def test_streaming_sliding_window_matches_batch(spark, tmp_path):
    from python_openetl_spark.streaming.windows import sliding_window_agg

    ev = _events(spark)
    stream = _replay_stream(spark, tmp_path, ev)
    agg = sliding_window_agg(with_watermark(stream, "ts", "30 days"))
    _run_to_completion(agg, "complete", tmp_path, "sliding")
    got = sorted(map(tuple, spark.sql("SELECT * FROM sliding").collect()))
    want = sorted(map(tuple, sliding_window_agg(ev).collect()))
    assert got == want


def test_streaming_session_window_matches_batch(spark, tmp_path):
    """Session windows as a REAL stream: sessions merge as late events
    arrive (out-of-order replay), and with a watermark far beyond the
    data range the final state equals the batch sessionization."""
    from python_openetl_spark.streaming.windows import session_window_agg

    ev = _events(spark)
    stream = _replay_stream(spark, tmp_path, ev)
    agg = session_window_agg(with_watermark(stream, "ts", "30 days"))
    _run_to_completion(agg, "complete", tmp_path, "sess")
    got = sorted(map(tuple, spark.sql("SELECT * FROM sess").collect()))
    want = sorted(map(tuple, session_window_agg(ev).collect()))
    assert got == want


def test_versioned_cdc_sink_commits_once_per_batch(spark, tmp_path):
    from python_openetl_spark.plans.versioned import VersionedTable
    from python_openetl_spark.streaming.sinks import VersionedCdcSink

    path = str(tmp_path / "vcdc")
    sink = VersionedCdcSink(path, pk="id", order_col="ts")
    b0 = spark.createDataFrame([(1, 10, 1.0), (2, 10, 2.0)], "id long, ts long, v double")
    b1 = spark.createDataFrame([(2, 20, 22.0), (3, 20, 3.0)], "id long, ts long, v double")
    sink(b0, batch_id=0)
    sink(b1, batch_id=1)
    sink(b1, batch_id=1)  # replayed micro-batch: must NOT create v3
    table = VersionedTable(path)
    assert table.versions() == [1, 2] and table.current_version() == 2
    rows = {(r["id"], r["v"]) for r in table.read(spark).collect()}
    assert rows == {(1, 1.0), (2, 22.0), (3, 3.0)}
    # the CDC feed between the two commits is the applied delta
    chg = {(r["id"], r["change_type"]) for r in table.changes(spark, "id", 1, 2).collect()}
    assert chg == {(2, "U"), (3, "I")}


def test_versioned_cdc_sink_from_real_stream(spark, tmp_path):
    from python_openetl_spark.plans.versioned import VersionedTable
    from python_openetl_spark.streaming.sinks import VersionedCdcSink

    ev = _events(spark).select(
        (F.col("event_id") % 40).alias("id"), "ts", "value"
    ).limit(200)
    path = stage_replay_dir(ev, str(tmp_path / "replay_vcdc"), chunks=3, order_col="id")
    stream = read_file_stream(spark, path, ev.schema)
    vpath = str(tmp_path / "vcdc_stream")
    q = (
        stream.writeStream.foreachBatch(VersionedCdcSink(vpath, pk="id", order_col="ts"))
        .option("checkpointLocation", str(tmp_path / "ckpt_vcdc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    table = VersionedTable(vpath)
    # one committed version per micro-batch, pk-unique live table
    assert len(table.versions()) >= 1
    live = table.read(spark)
    assert live.count() == live.select("id").distinct().count()
    assert live.count() == ev.select((F.col("id"))).distinct().count()


def test_versioned_cdc_sink_crash_straddling_batch_boundary(spark, tmp_path):
    """r7 verdict #5: the exactly-once claim's real adversary is a crash
    AFTER the sink committed a batch but BEFORE the checkpoint recorded
    it — on restart Structured Streaming replays that batch with the
    SAME batch_id, and the idempotence token (committed inside the same
    atomic pointer write as the data) must no-op the replay instead of
    double-applying it. Simulated by a foreachBatch wrapper that raises
    mid-run right after the sink's commit returns."""
    from python_openetl_spark.plans.versioned import VersionedTable
    from python_openetl_spark.streaming.sinks import VersionedCdcSink

    ev = (
        _events(spark)
        .select((F.col("event_id") % 40).alias("id"), "ts", "value")
        .limit(200)
    )
    path = stage_replay_dir(ev, str(tmp_path / "replay_crash"), chunks=3, order_col="id")
    stream = read_file_stream(spark, path, ev.schema)
    vpath = str(tmp_path / "vcdc_crash")
    ckpt = str(tmp_path / "ckpt_crash")
    sink = VersionedCdcSink(vpath, pk="id", order_col="ts")
    crash_flag = tmp_path / "crashed_once"

    def crashing_sink(batch_df, batch_id):
        sink(batch_df, batch_id)  # data + token committed atomically...
        if batch_id == 1 and not crash_flag.exists():
            crash_flag.write_text("x")
            raise RuntimeError("simulated crash after commit, before checkpoint")

    q = (
        stream.writeStream.foreachBatch(crashing_sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    except Exception:
        pass  # the simulated crash surfaces as a terminated query
    assert crash_flag.exists()
    table = VersionedTable(vpath)
    committed_before_restart = table.versions()

    # restart from the same checkpoint: batch 1 replays with the same id
    q2 = (
        read_file_stream(spark, path, ev.schema)
        .writeStream.foreachBatch(crashing_sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)

    # one committed version per DISTINCT batch — the replayed batch 1
    # no-opped on its token (no extra version, no double-merge)
    assert len(table.versions()) == 3
    assert set(committed_before_restart) <= set(table.versions())
    live = table.read(spark)
    assert live.count() == live.select("id").distinct().count()
    assert live.count() == ev.select("id").distinct().count()


def test_ivf_append_sink_replays_noop_and_streams_ingest(spark, tmp_path):
    """streaming/sinks.py IvfAppendSink (s12): a replayed micro-batch
    (same batch_id re-offered after restart — foreachBatch is
    at-least-once) must no-op on the marker instead of double-appending
    its vectors, and vectors streamed across batches must all be
    probeable afterwards."""
    import os

    from python_openetl_spark.operators.ivf_store import (
        build_ivf_store,
        current_index_dir,
        ivf_store_topk,
    )
    from python_openetl_spark.streaming.sinks import IvfAppendSink

    emb = load_table(spark, SF_DIR, "embeddings")
    root = str(tmp_path / "ivf_stream")
    build_ivf_store(emb.filter(F.col("vec_id") % 5 != 0), root, nlist=8)
    late = emb.filter(F.col("vec_id") % 5 == 0).select("vec_id", "embedding")
    sink = IvfAppendSink(root)
    b0 = late.filter(F.col("vec_id") % 10 == 0)
    b1 = late.filter(F.col("vec_id") % 10 == 5)
    sink(b0, batch_id=0)
    sink(b1, batch_id=1)
    n_after = spark.read.parquet(os.path.join(current_index_dir(root), "assigned")).count()
    sink(b1, batch_id=1)  # replay: marker says applied -> no-op
    sink(b0, batch_id=0)  # stale replay after restart -> no-op
    assert (
        spark.read.parquet(os.path.join(current_index_dir(root), "assigned")).count()
        == n_after
        == emb.count()
    )
    # a query equal to a vector from EACH batch finds it at cos 1.0
    anchors = (
        emb.filter(F.col("vec_id").isin(10, 25))
        .select((F.col("vec_id") + 500_000).alias("query_id"), "embedding")
        .toPandas()
    )
    got = {
        (r["query_id"], r["vec_id"])
        for r in ivf_store_topk(spark, root, anchors, k=3, nprobe=1).collect()
    }
    assert (500_010, 10) in got and (500_025, 25) in got


def test_ivf_append_sink_stream_scoped_markers(spark, tmp_path, caplog):
    """Batch ids restart at 0 for every NEW streaming query, so the
    replay marker is scoped by the query id Spark sets inside
    foreachBatch: a second stream's batch 0 against the same store
    APPENDS instead of being swallowed by the first stream's marker,
    while a restart of the SAME stream (same checkpoint, so the same
    query id) that re-runs its last batch still no-ops. A corrupt
    marker is warned about and treated as absent (at-least-once
    re-append), never a silent drop."""
    import logging
    import os

    from python_openetl_spark.operators.ivf_store import (
        build_ivf_store,
        current_index_dir,
    )
    from python_openetl_spark.streaming.sinks import IvfAppendSink

    emb = load_table(spark, SF_DIR, "embeddings")
    root = str(tmp_path / "ivf_scoped")
    build_ivf_store(emb.filter(F.col("vec_id") % 5 != 0), root, nlist=8)
    late = emb.filter(F.col("vec_id") % 5 == 0).select("vec_id", "embedding")
    b0 = late.filter(F.col("vec_id") % 10 == 0)
    b1 = late.filter(F.col("vec_id") % 10 == 5).withColumn(
        "vec_id", F.col("vec_id") + 3_000_000
    )

    def n_assigned():
        return spark.read.parquet(
            os.path.join(current_index_dir(root), "assigned")
        ).count()

    srcs = {
        name: stage_replay_dir(df, str(tmp_path / f"replay_{name}"), chunks=2, order_col="vec_id")
        for name, df in (("a", b0), ("b", b1))
    }

    def stream(name):
        q = (
            read_file_stream(spark, srcs[name], late.schema)
            .writeStream.foreachBatch(IvfAppendSink(root))
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return q

    qa = stream("a")
    n_a = n_assigned()
    assert n_a == emb.filter(F.col("vec_id") % 5 != 0).count() + b0.count()
    # same-stream restart replay -> no-op
    last = _drop_last_commit(str(tmp_path / "ckpt_a"))
    qa2 = stream("a")
    assert qa2.id == qa.id
    assert last in {p["batchId"] for p in qa2.recentProgress}
    assert n_assigned() == n_a

    # a NEW stream (fresh checkpoint, ids restart at 0) must not be
    # dropped by stream A's marker
    qb = stream("b")
    assert n_assigned() == n_a + b1.count()

    # corrupt marker: warned, treated as absent
    sink_b = IvfAppendSink(root)
    marker = sink_b._marker_path(qb.id)
    with open(marker, "w") as f:
        f.write("{ torn")
    with caplog.at_level(logging.WARNING):
        assert sink_b._last_batch(marker) == -1
    assert any("unreadable batch marker" in r.message for r in caplog.records)


def test_stream_stream_join_recovers_from_checkpoint(spark, tmp_path):
    """s13's machinery under RESTART: run the two-stream interval join
    with only the first chunk of each side present, let the query
    finish (availableNow), then add the remaining chunks and resume
    from the SAME checkpoint into a fault-tolerant file sink. The
    second run must restore the join state (chunk-0 purchases/clicks
    still match chunk-1/2 arrivals of the other side) and the file
    sink's manifest must dedupe replays — the union of both runs'
    emissions equals the batch join exactly."""
    import shutil

    from python_openetl_spark.io import load_table
    from python_openetl_spark.streaming.sources import (
        read_file_stream,
        stage_replay_dir,
    )

    ev = load_table(spark, SF_DIR, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    full_p = stage_replay_dir(
        purchases, str(tmp_path / "full_p"), chunks=3,
        order_col="p_ts", shuffle_time_order=False,
    )
    full_c = stage_replay_dir(
        clicks, str(tmp_path / "full_c"), chunks=3,
        order_col="c_ts", shuffle_time_order=False,
    )
    live_p, live_c = str(tmp_path / "p"), str(tmp_path / "c")
    for full, live in ((full_p, live_p), (full_c, live_c)):
        shutil.copytree(f"{full}/chunk=0", f"{live}/chunk=0")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def run_once():
        ps = read_file_stream(spark, live_p, purchases.schema).withWatermark(
            "p_ts", "2 hours"
        )
        cs = read_file_stream(spark, live_c, clicks.schema).withWatermark(
            "c_ts", "2 hours"
        )
        j = ps.join(
            cs,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
            "inner",
        )
        q = (
            j.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    run_once()  # sees only chunk 0 of each side
    n_partial = spark.read.parquet(out).count()
    for full, live in ((full_p, live_p), (full_c, live_c)):
        for i in (1, 2):
            shutil.copytree(f"{full}/chunk={i}", f"{live}/chunk={i}")
    run_once()  # resumes state from the checkpoint

    got = spark.read.parquet(out).select(
        "p_id", "user_id", "p_ts", "c_id", "c_ts"
    )
    want = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("p_id", "user_id", "p_ts", "c_id", "c_ts")
    g = sorted(tuple(r) for r in got.collect())
    w = sorted(tuple(r) for r in want.collect())
    assert g == w
    # the restart genuinely crossed the boundary: some matches were
    # emitted in run 1, and run 2 added cross-chunk matches
    assert 0 < n_partial < len(w)


def test_join_view_sink_from_real_stream(spark, tmp_path):
    """s17's sink under a REAL replayed stream: counting deltas of
    orders-like rows (inserts then deletes) arrive in micro-batches;
    the maintained A⋈B view must equal the batch recompute from the
    net A regardless of how the chunking splits inserts and deletes
    (counting algebra is order-free: a delete landing before its
    insert nets to zero either way), with one committed version per
    non-empty micro-batch."""
    from python_openetl_spark.operators.ivm import join_view
    from python_openetl_spark.plans.versioned import VersionedTable
    from python_openetl_spark.streaming.sinks import JoinViewSink

    a = spark.createDataFrame(
        [(k, f"u{k % 5}") for k in range(40)], "k long, av string"
    )
    b = spark.createDataFrame(
        [(k, f"b{k % 3}") for k in range(0, 40, 2)] * 2, "k long, bv string"
    )  # duplicate B rows -> view mults of 2
    one = F.lit(1).cast("long")
    deltas = (
        a.withColumn("mult", one)
        .withColumn("seq", F.col("k"))
        .unionByName(  # later: delete every 4th key
            a.filter(F.col("k") % 4 == 0)
            .withColumn("mult", -one)
            .withColumn("seq", F.col("k") + 100)
        )
    )
    path = stage_replay_dir(
        deltas, str(tmp_path / "replay_jv"), chunks=4, order_col="seq"
    )
    stream = read_file_stream(spark, path, deltas.schema).drop("seq")
    vpath = str(tmp_path / "jview_stream")
    q = (
        stream.writeStream.foreachBatch(JoinViewSink(vpath, b, "k"))
        .option("checkpointLocation", str(tmp_path / "ckpt_jv"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not terminate"
    table = VersionedTable(vpath)
    assert len(table.versions()) >= 1
    got = {tuple(r) for r in table.read(spark).collect()}
    a_net = a.filter(F.col("k") % 4 != 0)
    want = {tuple(r) for r in join_view(a_net, b, "k").collect()}
    assert got == want
    # mult>1 rows really exist (duplicate B rows)
    assert any(r[-1] == 2 for r in got)


def test_stream_state_partitions_derived_from_replay_volume(monkeypatch):
    # sizing tracks state volume (rows per micro-batch), not a constant:
    # JVM stateful rows target ~8k rows/partition/batch (floor 4),
    # python-state rows ~4k; env override wins (r14 verdict #4)
    from types import SimpleNamespace

    from pyspark.sql import SparkSession

    from python_openetl_spark.workload.util import stream_state_partitions

    # the result is capped at the ACTIVE session's default parallelism,
    # so whether a session-scoped `spark` fixture ran earlier would
    # decide the answer; stub the session to pin the cap (32 = the
    # no-session cap)
    def active_session(parallelism):
        stub = SimpleNamespace(
            sparkContext=SimpleNamespace(defaultParallelism=parallelism)
        )
        monkeypatch.setattr(
            SparkSession, "getActiveSession", staticmethod(lambda: stub)
        )

    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", raising=False)
    active_session(32)
    assert stream_state_partitions(13_316) == 4      # s13 shape @ sf0.1
    assert stream_state_partitions(25_000) == 4      # s15 shape @ sf0.1
    assert stream_state_partitions(60_000) == 8      # scales up with volume
    assert stream_state_partitions(33_333, python_state=True) == 8  # s11
    assert stream_state_partitions(0) == 4           # floor
    active_session(4)
    assert stream_state_partitions(60_000) == 4      # capped at parallelism
    active_session(2)
    assert stream_state_partitions(0) == 4           # floor wins over cap
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "16")
    assert stream_state_partitions(33_333) == 16


def test_replay_rows_per_batch_reads_staged_manifest(spark, tmp_path):
    from python_openetl_spark.streaming.sources import replay_rows_per_batch

    df = spark.range(90).select(
        F.col("id").alias("event_id"), F.col("id").alias("k")
    )
    path = stage_replay_dir(df, str(tmp_path / "replay"), chunks=3)
    # 3 chunk files, 90 rows total -> 30 rows per micro-batch
    assert replay_rows_per_batch(path) == 30.0
