"""Physical-plan assertions: the optimizer behaviors COVERAGE.md claims
(filter pushdown to the scan, column pruning, broadcast dims) hold on
the real workload plans — not just by construction."""

from __future__ import annotations

from python_openetl_spark.workload.relational import (
    q00_full_scan,
    q01_pricing_summary,
    q04_revenue_by_nation,
    q14_in_list,
)
from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark):
    plan = _plan(q01_pricing_summary(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan


def test_in_list_pushdown(spark):
    plan = _plan(q14_in_list(spark, SF_DIR))
    assert "In(l_orderkey" in plan, plan


def test_column_pruning(spark):
    plan = _plan(q00_full_scan(spark, SF_DIR))
    # scan must read only the 3 projected columns
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = [c.split(":")[0] for c in m.group(1).split(",")]
    assert cols == ["n_nationkey", "n_name", "n_regionkey"], plan


def test_star_join_broadcasts_dims(spark):
    plan = _plan(q04_revenue_by_nation(spark, SF_DIR))
    # customer, nation, region all broadcast; only the fact-fact join shuffles
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_binned_range_join_is_equi_not_nested_loop(spark):
    from python_openetl_spark.workload.relational import q33_binned_range_join

    plan = _plan(q33_binned_range_join(spark, SF_DIR))
    # the whole point of binning: a hash equi-join on __bin with the
    # exact range predicate as a residual — never a nested loop/cartesian
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "HashJoin" in plan, plan


def test_profile_is_single_aggregate_pass(spark):
    from python_openetl_spark.workload.relational import q32_profile

    plan = _plan(q32_profile(spark, SF_DIR))
    # one scan of the table feeds every per-column stat
    assert plan.count("FileScan parquet") == 1, plan


def test_scd2_merge_single_pk_shuffle_broadcasts_small_delta(spark):
    from python_openetl_spark.workload.incremental import m06_scd2_merge

    plan = _plan(m06_scd2_merge(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_promo_revenue_pushes_date_range_and_broadcasts_part(spark):
    from python_openetl_spark.workload.relational import q44_promo_revenue

    plan = _plan(q44_promo_revenue(spark, SF_DIR))
    # quarter bounds reach the lineitem scan; part joins hash-based
    assert "GreaterThanOrEqual(l_shipdate" in plan, plan
    assert "LessThan(l_shipdate" in plan, plan
    assert "HashJoin" in plan, plan


def test_argmax_aggregate_combines_map_side(spark):
    from python_openetl_spark.workload.relational import q49_argmax_per_group

    plan = _plan(q49_argmax_per_group(spark, SF_DIR))
    # partial max_by below the exchange: one shuffled row per group,
    # not a window sort over the whole table
    assert "partial_max_by" in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "Window" not in plan, plan


def test_time_range_frame_single_window_exchange(spark):
    from python_openetl_spark.workload.relational import q50_time_range_frame

    plan = _plan(q50_time_range_frame(spark, SF_DIR))
    # both frame aggregates share one window spec: one exchange, one sort
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Window [") == 1, plan
    assert "RangeFrame" in plan, plan


def test_contamination_broadcasts_benchmark_shingles(spark):
    from python_openetl_spark.workload.llm2 import d19_contamination_check

    plan = _plan(d19_contamination_check(spark, SF_DIR))
    # benchmark shingle set broadcasts; corpus side shuffles only for the
    # per-doc aggregate (partial agg below it)
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_count" in plan, plan


def test_pii_redaction_is_shuffle_free(spark):
    from python_openetl_spark.workload.llm2 import d20_pii_redaction

    plan = _plan(d20_pii_redaction(spark, SF_DIR))
    # pure scan projection: no exchange anywhere in the plan
    assert "Exchange" not in plan, plan


def test_mixture_resample_broadcasts_acceptance(spark):
    from python_openetl_spark.workload.llm2 import d22_mixture_resample

    plan = _plan(d22_mixture_resample(spark, SF_DIR))
    # the corpus probe side joins the tiny acceptance table by broadcast -
    # the big side is never shuffled for the join
    assert "BroadcastHashJoin" in plan, plan


def test_pack_sequences_partitions_by_shard(spark):
    from python_openetl_spark.workload.llm2 import d21_sequence_packing

    plan = _plan(d21_sequence_packing(spark, SF_DIR))
    # the running-sum window hash-partitions by lang - no single-partition
    # global window at scale
    assert "hashpartitioning(lang" in plan, plan


def test_incremental_dedup_shuffles_on_fingerprint_only(spark):
    from python_openetl_spark.workload.llm3 import d23_incremental_dedup

    plan = _plan(d23_incremental_dedup(spark, SF_DIR))
    # the batch/store joins run on the 16-byte fp hash key - never a
    # nested loop, and never a shuffle keyed on raw text
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "hashpartitioning(fp" in plan, plan


def test_training_shuffle_partitions_by_shard(spark):
    from python_openetl_spark.workload.llm3 import d24_training_shuffle

    plan = _plan(d24_training_shuffle(spark, SF_DIR))
    # per-shard window sort, not a global single-partition sort
    assert "hashpartitioning(shard" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_prepare_corpus_broadcasts_benchmark_and_reuses_keeper_exchange(spark):
    from python_openetl_spark.workload.llm3 import e01_prepare_corpus

    plan = _plan(e01_prepare_corpus(spark, SF_DIR))
    # contamination probe broadcasts the benchmark shingle set
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_semantic_dedup_pairs_are_cell_equi_join(spark):
    """d26 must never materialize a pair join (pairs live only inside
    the per-cell Arrow kernel's matmul) and the survivor filter must be
    a left-anti join against the dropped-id set."""
    from python_openetl_spark.workload.llm4 import d26_semantic_dedup

    plan = _plan(d26_semantic_dedup(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftAnti" in plan, plan


def test_kmeans_assign_recheck_broadcasts_centroids(spark):
    """d25's JVM recheck joins against k=8 centroid rows — that side
    must broadcast (nested-loop over 8 rows is fine; a shuffle of the
    corpus against it is not)."""
    from python_openetl_spark.workload.llm4 import d25_kmeans_assign

    plan = _plan(d25_kmeans_assign(spark, SF_DIR))
    assert "Broadcast" in plan, plan


def test_orc_roundtrip_pushes_filter_to_orc_scan(spark):
    """k03's read-back filter must reach the ORC scan as a pushed
    predicate (pushdown survives the format hop)."""
    from python_openetl_spark.workload.sinks_io import k03_orc_roundtrip

    plan = _plan(k03_orc_roundtrip(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity" in plan, plan


def test_waiting_supplier_scans_lineitem_twice_not_thrice(spark):
    """q35's top-2 rewrite: lineitem feeds one (order, supplier) rollup
    and one row-level join — the literal EXISTS/NOT-EXISTS plan's third
    scan must not come back."""
    from python_openetl_spark.workload.relational import q35_waiting_supplier

    plan = _plan(q35_waiting_supplier(spark, SF_DIR))
    assert plan.count("FileScan parquet") <= 4, plan  # 2x lineitem + orders + supplier
    assert "lineitem" in plan


def test_driver_window_is_full_and_oracle_backed(spark):
    """The first 50 queries() entries are what the driver hash-checks:
    they must be 50 unique names, every one with an oracle."""
    from python_openetl_spark.workload import all_oracles, all_queries

    q, o = all_queries(), all_oracles()
    w = list(q)[:50]
    assert len(set(w)) == 50
    # every query oracle-backed except the EXPLICIT rows-only surface
    # (k13's capability flags ARE environment state — an oracle would
    # hardcode the sandbox); no orphan oracles. The driver records a
    # weaker rows-only check for k13, so the window check carves out
    # exactly that set
    rows_only = {"k13_doctor_report"}
    assert all(n in o for n in w if n not in rows_only), [
        n for n in w if n not in o and n not in rows_only
    ]
    assert set(q) - set(o) == rows_only
    assert set(o) <= set(q)


def test_q56_broadcasts_part_and_excluded_suppliers(spark):
    """q56's part projection and negative-balance supplier list must
    both broadcast — the only shuffle is the distinct-count rollup."""
    from python_openetl_spark.workload.relational2 import q56_supplier_cnt_by_part

    plan = _plan(q56_supplier_cnt_by_part(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan


def test_q57_nested_semi_joins_broadcast(spark):
    """q57: the part filter broadcasts into the lineitem semi join and
    the surviving supplier keys broadcast into the final semi join —
    the supplier table itself never shuffles."""
    from python_openetl_spark.workload.relational2 import q57_part_promotion_suppliers

    plan = _plan(q57_part_promotion_suppliers(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "LeftSemi" in plan, plan


def test_q54_semi_join_with_date_pushdown(spark):
    """q54: the order-date slice reaches the parquet scan; the lateness
    test is a semi join (no row duplication before the count)."""
    from python_openetl_spark.workload.relational2 import q54_order_priority_checking

    plan = _plan(q54_order_priority_checking(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan, plan
    assert "LeftSemi" in plan, plan


def test_d34_bm25_prunes_before_shuffle_and_bounds_scans(spark):
    """d34: the query-vocabulary broadcast join must sit BELOW the
    (term, doc) aggregate (only query-term rows shuffle), document
    frequency must not duplicate the postings subtree, and the whole
    plan stays at <= 5 column-pruned corpus scans."""
    from python_openetl_spark.workload.llm6 import QUERIES

    plan = _plan(QUERIES["d34_bm25_topk"](spark, SF_DIR))
    assert plan.count("FileScan") <= 5, plan
    # exactly one corpus-side token explode (df via window, not a
    # recomputed second postings branch)
    assert plan.count("Generate explode(toks") == 1, plan
    assert "BroadcastHashJoin" in plan, plan


def test_manifest_prunes_files_and_matches_full_scan(spark, tmp_path):
    """Manifest over a date-sorted compaction: a narrow range must
    select a strict subset of files, and the pruned read must equal the
    full-scan filter exactly. All-NULL stat files are skipped."""
    from pyspark.sql import functions as F

    from python_openetl_spark.io import load_table
    from python_openetl_spark.plans.manifest import build_manifest, prune_files, pruned_read
    from python_openetl_spark.plans.pipelines import ParquetTable

    src = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    table = ParquetTable(str(tmp_path / "man_tbl"))
    table.overwrite(src)
    table.compact(spark, num_files=6, sort_by=["o_orderdate"])
    man = build_manifest(spark, table.path, ["o_orderdate"])
    n_files = man.count()
    assert n_files == 6
    lo, hi = "1996-04-01", "1996-07-01"
    picked = prune_files(man, "o_orderdate", lo, hi)
    assert 0 < len(picked) < n_files  # skipping actually happened
    got = pruned_read(spark, man, "o_orderdate", lo, hi)
    want = table.read(spark).filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") <= hi)
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    # a range outside the data selects nothing and still returns typed-empty
    empty = pruned_read(spark, man, "o_orderdate", "2099-01-01", "2099-12-31")
    assert empty.count() == 0
    assert set(empty.columns) == set(want.columns)


def test_update_manifest_append_and_compact_cycle(spark, tmp_path):
    """Incremental manifest maintenance (the k05 story at scale): an
    ingest appends file rows computed from the NEW files only; a
    compaction drops the replaced rows and adds the rewritten files.
    After each step the incrementally-updated manifest is row-identical
    to a from-scratch rebuild, and pruned reads stay exact."""
    from pyspark.sql import functions as F

    from python_openetl_spark.io import load_table
    from python_openetl_spark.plans.manifest import (
        build_manifest,
        pruned_read,
        update_manifest,
    )
    from python_openetl_spark.plans.pipelines import ParquetTable

    src = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    old = src.filter("o_orderkey % 3 != 0")
    new = src.filter("o_orderkey % 3 = 0")
    table = ParquetTable(str(tmp_path / "inc_tbl"))
    table.overwrite(old.repartition(4))
    cols = ["o_orderdate"]
    man = build_manifest(spark, table.path, cols)
    files_before = {r["file"] for r in man.select("file").collect()}

    # ingest: append new data files, manifest learns ONLY the new ones
    new.repartition(2).write.mode("append").parquet(table.path)
    files_after = {
        r["file"]
        for r in build_manifest(spark, table.path, cols).select("file").collect()
    }
    added = sorted(files_after - files_before)
    assert len(added) >= 1
    man = update_manifest(spark, man, cols, added_files=added)
    rebuilt = build_manifest(spark, table.path, cols)
    assert {tuple(r) for r in man.collect()} == {tuple(r) for r in rebuilt.collect()}
    # persist the updated manifest BEFORE the next rewrite deletes the
    # files it scanned (the operator's documented Delta-commit ordering)
    man = spark.createDataFrame(man.collect(), man.schema)

    # compact: all old files replaced; update = remove old rows, add new
    table.compact(spark, num_files=3, sort_by=["o_orderdate"])
    files_compacted = {
        r["file"]
        for r in build_manifest(spark, table.path, cols).select("file").collect()
    }
    man = update_manifest(
        spark,
        man,
        cols,
        added_files=sorted(files_compacted),
        removed_files=sorted(files_after),
    )
    rebuilt = build_manifest(spark, table.path, cols)
    assert {tuple(r) for r in man.collect()} == {tuple(r) for r in rebuilt.collect()}

    got = pruned_read(spark, man, "o_orderdate", "1996-04-01", "1996-07-01")
    want = table.read(spark).filter(
        (F.col("o_orderdate") >= "1996-04-01") & (F.col("o_orderdate") <= "1996-07-01")
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_compact_table_merges_and_noops(spark, tmp_path):
    from python_openetl_spark.plans.pipelines import compact_table

    path = str(tmp_path / "frag")
    df = spark.range(2000).selectExpr("id", "id * 2 AS v")
    df.repartition(16).write.parquet(path)
    stats = compact_table(spark, path, target_rows_per_file=1000)
    assert stats["rewritten"] and stats["n_rows"] == 2000
    assert stats["files_after"] <= 3 < stats["files_before"]
    assert spark.read.parquet(path).count() == 2000
    # second run: already compact -> no-op, never splits
    again = compact_table(spark, path, target_rows_per_file=1000)
    assert not again["rewritten"]
    assert again["files_after"] == again["files_before"] == stats["files_after"]


def test_pruned_read_keeps_partition_columns_with_base_path(spark, tmp_path):
    """r10 review: leaf-file reads of a hive-partitioned table drop the
    partition columns unless basePath is set — pruned_read now threads
    table_path through as basePath, so pruning on a PARTITION column
    works and the schema equals the table's."""
    from python_openetl_spark.plans.manifest import build_manifest, pruned_read

    p = str(tmp_path / "t")
    spark.createDataFrame(
        [("2024-01-01", 1), ("2024-02-01", 2), ("2024-03-01", 3)],
        "dt string, v long",
    ).write.partitionBy("dt").parquet(p)
    man = build_manifest(spark, p, ["dt", "v"])
    got = pruned_read(spark, man, "dt", "2024-01-15", "2024-02-15", table_path=p)
    assert set(got.columns) == {"dt", "v"}
    # hive inference types dt as DATE on the read side; compare as str
    assert [(str(r["dt"]), r["v"]) for r in got.collect()] == [("2024-02-01", 2)]
    # data-column prune on the partitioned table keeps dt in the schema
    got2 = pruned_read(spark, man, "v", 3, 9, table_path=p)
    assert set(got2.columns) == {"dt", "v"}
    assert str(got2.first()["dt"]) == "2024-03-01"


def test_bloom_manifest_prunes_files_no_false_negatives(spark, tmp_path):
    """Bloom manifest over a hash-clustered layout (overlapping min/max
    ranges — range stats would prune nothing): every present key's
    pruned read equals the full-scan filter, probes skip most files,
    an absent key reads zero rows, and a mixed-geometry manifest is
    rejected."""
    from pyspark.sql import functions as F

    from python_openetl_spark.io import load_table
    from python_openetl_spark.plans.manifest import (
        bloom_prune_files,
        bloom_pruned_read,
        build_bloom_manifest,
    )
    from python_openetl_spark.plans.pipelines import ParquetTable

    src = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    table = ParquetTable(str(tmp_path / "bloom_tbl"))
    table.overwrite(src.repartition(8, "o_custkey"))
    man = build_bloom_manifest(spark, table.path, "o_custkey").persist()
    n_files = man.count()
    assert n_files == 8
    keys = [r["o_custkey"] for r in src.select("o_custkey").distinct().limit(5).collect()]
    total_picked = 0
    for ck in keys:
        picked = bloom_prune_files(man, "o_custkey", ck)
        assert len(picked) >= 1  # no false negatives
        total_picked += len(picked)
        got = bloom_pruned_read(spark, man, "o_custkey", ck, table_path=table.path)
        want = table.read(spark).filter(F.col("o_custkey") == ck)
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    # with 8 files and 3 hashes the average probe must skip files
    assert total_picked < len(keys) * n_files
    # absent key: zero rows, typed schema (bloom may false-positive a
    # file, the exact filter still yields nothing)
    miss = bloom_pruned_read(spark, man, "o_custkey", -999, table_path=table.path)
    assert miss.count() == 0
    assert set(miss.columns) == {"o_orderkey", "o_custkey", "o_totalprice"}
    # mixed geometry rejected
    import pytest as _pytest

    mixed = man.unionByName(
        man.limit(1).withColumn("bloom_bits", F.lit(64))
    )
    with _pytest.raises(ValueError, match="geometries"):
        bloom_prune_files(mixed, "o_custkey", keys[0])
    man.unpersist()


def test_bloom_manifest_string_keys_and_all_null_file(spark, tmp_path):
    """String keys hash identically driver-side and Spark-side; a file
    whose key column is all NULL sets no bits and never matches."""
    from pyspark.sql import functions as F

    from python_openetl_spark.plans.manifest import (
        bloom_prune_files,
        bloom_pruned_read,
        build_bloom_manifest,
    )

    rows = [("alpha", 1), ("beta", 2), ("gamma", 3)]
    df = spark.createDataFrame(rows, "k string, v int")
    null_part = spark.createDataFrame([(None, 99)], "k string, v int")
    p = str(tmp_path / "bloom_str")
    df.coalesce(1).write.parquet(p)
    null_part.coalesce(1).write.mode("append").parquet(p)
    man = build_bloom_manifest(spark, p, "k").persist()
    assert man.count() == 2
    picked = bloom_prune_files(man, "k", "beta")
    assert len(picked) == 1  # the all-NULL file cannot match
    got = bloom_pruned_read(spark, man, "k", "beta", table_path=p)
    assert [tuple(r) for r in got.collect()] == [("beta", 2)]
    man.unpersist()


def test_weighted_sample_windows_are_partitioned(spark):
    """Neither top-k phase may run a partitionless window (the global
    sort trap); both rank within hash partitions."""
    from python_openetl_spark.workload.llm14 import d59_weighted_sample

    plan = _plan(d59_weighted_sample(spark, SF_DIR))
    assert "No Partition Defined" not in plan, plan
    assert plan.count("Window [") == 2, plan  # exactly the two phases


def test_triangle_counts_no_cartesian_and_equi_joins_only(spark):
    """Wedge generation and closure must be equi-joins (SortMerge or
    Hash), never a cartesian/nested-loop product."""
    from python_openetl_spark.workload.llm14 import d61_dup_graph_triangles

    plan = _plan(d61_dup_graph_triangles(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_patch_grid_explodes_jvm_side_after_single_decode(spark):
    """Exactly one Python boundary (the decode kernel); the 1->N tile
    explosion is a JVM Generate above it, so patch rows never cross
    back into Python."""
    from python_openetl_spark.workload.llm14 import mm09_patch_grid

    plan = _plan(mm09_patch_grid(spark, SF_DIR))
    assert plan.count("MapInPandas") == 1, plan
    assert "Generate explode" in plan, plan
    # the Generate sits ABOVE the python node in the tree (parents print
    # before children): explode must come later in the string than never
    # -- i.e. appear, and no second python eval above it
    assert plan.index("Generate explode") < plan.index("MapInPandas"), plan


def test_q86_threshold_is_broadcast_and_reuses_the_group_exchange(spark):
    """The global threshold joins as a broadcast single row, and in the
    FINAL adaptive plan the threshold's per-part aggregate reuses the
    grouped exchange (ReusedExchange) — lineitem is physically scanned
    once, not re-joined for the scalar subquery."""
    from python_openetl_spark.workload.relational8 import q86_important_parts

    df = q86_important_parts(spark, SF_DIR)
    df.collect()  # AQE finalizes (and reuses) exchanges at execution
    plan = _plan(df)
    assert "isFinalPlan=true" in plan, plan
    assert "ReusedExchange" in plan, plan
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in plan, plan


def test_bloom_prune_empty_manifest_returns_no_files(spark, tmp_path):
    """A zero-row table's bloom manifest is empty; pruning must return
    [] (and bloom_pruned_read its typed-empty fallback), not raise the
    mixed-geometry error."""
    from python_openetl_spark.plans.manifest import (
        bloom_prune_files,
        bloom_pruned_read,
        build_bloom_manifest,
    )

    d = str(tmp_path / "empty")
    spark.createDataFrame([], "k long, v int").write.mode("overwrite").parquet(d)
    man = build_bloom_manifest(spark, d, "k")
    assert man.count() == 0
    assert bloom_prune_files(man, "k", 1) == []
    out = bloom_pruned_read(spark, man, "k", 1, table_path=d)
    assert out.count() == 0 and set(out.columns) == {"k", "v"}


def test_pin_reliable_checkpoint_policy(spark, tmp_path, monkeypatch):
    # materialize.py scale-safety policy: default pin is localCheckpoint
    # (delta-sized frames, fail-fast batch); SPARK_GRAFT_RELIABLE_CHECKPOINT=1
    # flips every pin to reliable Dataset.checkpoint for cluster jobs that
    # must survive executor loss (r14 verdict #6)
    import pytest as _pytest

    from python_openetl_spark.operators.materialize import pin

    df = spark.range(10)
    monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", raising=False)
    assert pin(df).count() == 10  # local default: no checkpoint dir needed

    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    if spark.sparkContext.getCheckpointDir() is None:
        with _pytest.raises(ValueError, match="checkpoint dir"):
            pin(df)  # reliable mode without a dir must fail loudly
    ckpt = tmp_path / "ckpt"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ckpt))
    out = pin(df)
    assert out.count() == 10
    # reliable path actually wrote RDD checkpoint files
    assert spark.sparkContext.getCheckpointDir() is not None
