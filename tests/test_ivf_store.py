"""operators/ivf_store.py — persisted incremental IVF index."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from python_openetl_spark.operators import similarity
from python_openetl_spark.operators.ivf_store import (
    append_to_ivf_store,
    build_ivf_store,
    current_index_dir,
    ivf_store_topk,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    root = str(tmp_path_factory.mktemp("ivf") / "store")
    build_ivf_store(emb.filter(F.col("vec_id") % 10 != 7), root, nlist=16)
    append_to_ivf_store(emb.filter(F.col("vec_id") % 10 == 7), root)
    return root


def _queries(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    return (
        emb.filter(F.col("vec_id").isin(1, 5, 9))
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .toPandas()
    )


def test_append_is_queryable_and_recall_holds(spark, store):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = emb.count()
    stored = spark.read.parquet(current_index_dir(store) + "/assigned")
    assert stored.count() == n  # nothing lost across build + append
    assert stored.select("vec_id").distinct().count() == n

    qpdf = _queries(spark)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in similarity.cosine_topk(
            emb, spark.createDataFrame(qpdf), k=5
        ).collect()
    }
    # full probe == exact (every cell scanned -> no pruning loss)
    full = {
        (r["query_id"], r["vec_id"])
        for r in ivf_store_topk(spark, store, qpdf, k=5, nprobe=16).collect()
    }
    assert full == exact
    # narrow probe: recall floor, and appended vectors are reachable
    narrow = ivf_store_topk(spark, store, qpdf, k=5, nprobe=12)
    hits = len({(r["query_id"], r["vec_id"]) for r in narrow.collect()} & exact)
    assert hits / len(exact) >= 0.6


def test_probe_scan_is_partition_pruned(spark, store):
    """The cell predicate must reach the scan as a PartitionFilter —
    the disk-level pruning the partitioned layout exists for."""
    df = ivf_store_topk(spark, store, _queries(spark), k=5, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan.replace("PartitionFilters: [ cell", "PartitionFilters: [cell"), plan


def test_appended_vector_is_findable_as_itself(spark, store):
    """A freshly-appended vector queried for its own neighborhood must
    appear in results for a query equal to it (nprobe=1 suffices: it
    sits in its assigned cell, which is the query's nearest cell)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    row = emb.filter(F.col("vec_id") % 10 == 7).first()
    qpdf = pd.DataFrame({"query_id": [999_999], "embedding": [row["embedding"]]})
    got = ivf_store_topk(spark, store, qpdf, k=3, nprobe=1).collect()
    assert row["vec_id"] in {r["vec_id"] for r in got}
    top = max(got, key=lambda r: r["cos_sim"])
    assert top["vec_id"] == row["vec_id"] and top["cos_sim"] > 0.999999


def test_build_empty_corpus_raises(spark, tmp_path):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty corpus"):
        build_ivf_store(empty, str(tmp_path / "x"))


def test_rebuild_preserves_contents_and_exactness(spark, store):
    from python_openetl_spark.operators.ivf_store import rebuild_ivf_store

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = emb.count()
    old_dir = current_index_dir(store)
    rebuild_ivf_store(spark, store)
    new_dir = current_index_dir(store)
    # pointer moved to a fresh version; the superseded directory is left
    # intact for in-flight readers (deletion is vacuum's job, not rebuild's)
    assert new_dir != old_dir
    assert spark.read.parquet(old_dir + "/assigned").count() == n
    stored = spark.read.parquet(new_dir + "/assigned")
    assert stored.count() == n and stored.select("vec_id").distinct().count() == n
    qpdf = _queries(spark)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in similarity.cosine_topk(emb, spark.createDataFrame(qpdf), k=5).collect()
    }
    full = {
        (r["query_id"], r["vec_id"])
        for r in ivf_store_topk(spark, store, qpdf, k=5, nprobe=16).collect()
    }
    assert full == exact


def test_append_after_rebuild_lands_in_live_version(spark, tmp_path):
    """Hostile lifecycle ordering: build -> rebuild -> append. The
    append must resolve the pointer and land in the NEW version, not
    the superseded directory a stale path would point at."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    root = str(tmp_path / "ivf")
    build_ivf_store(emb.filter(F.col("vec_id") % 10 != 3), root, nlist=8)
    from python_openetl_spark.operators.ivf_store import rebuild_ivf_store

    old_dir = current_index_dir(root)
    rebuild_ivf_store(spark, root)
    new_dir = current_index_dir(root)
    batch = emb.filter(F.col("vec_id") % 10 == 3)
    append_to_ivf_store(batch, root)
    batch_ids = {r["vec_id"] for r in batch.select("vec_id").collect()}
    new_ids = {
        r["vec_id"]
        for r in spark.read.parquet(new_dir + "/assigned").select("vec_id").collect()
    }
    old_ids = {
        r["vec_id"]
        for r in spark.read.parquet(old_dir + "/assigned").select("vec_id").collect()
    }
    assert batch_ids <= new_ids and not (batch_ids & old_ids)
    # and the appended vectors are findable through the probe path
    row = batch.first()
    qpdf = pd.DataFrame({"query_id": [888_888], "embedding": [row["embedding"]]})
    got = ivf_store_topk(spark, root, qpdf, k=3, nprobe=1).collect()
    assert row["vec_id"] in {r["vec_id"] for r in got}


def test_vacuum_prunes_superseded_versions_only(spark, tmp_path):
    from python_openetl_spark.operators.ivf_store import (
        rebuild_ivf_store,
        vacuum_ivf_store,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(40)
    root = str(tmp_path / "ivf")
    build_ivf_store(emb, root, nlist=4)
    rebuild_ivf_store(spark, root)
    rebuild_ivf_store(spark, root)  # versions 1, 2, 3; live = 3
    import os

    assert sorted(d for d in os.listdir(root) if d.startswith("v")) == [
        "v00000001",
        "v00000002",
        "v00000003",
    ]
    removed = vacuum_ivf_store(root, keep_last=1)
    assert removed == [1, 2]
    assert sorted(d for d in os.listdir(root) if d.startswith("v")) == ["v00000003"]
    # store still fully queryable after vacuum
    qpdf = _queries(spark)
    assert ivf_store_topk(spark, root, qpdf, k=3, nprobe=4).count() > 0


def test_trained_centroids_bound_cell_skew(spark, tmp_path):
    """r7 verdict #2: the coarse quantizer is k-means-TRAINED, not
    hash-sampled, so cell sizes stay even — hot cells are what skew
    probe tasks and sink recall-per-nprobe at 100x. Bound asserted on
    the built store's own partition sizes: max cell <= 2x the mean
    (trained measures ~1.3x on this fixture; the sampled quantizer
    measured ~1.6x and trends worse with corpus density skew)."""
    from tests.conftest import SF_DIR_MED

    emb = spark.read.parquet(f"{SF_DIR_MED}/embeddings.parquet")
    root = str(tmp_path / "skew_store")
    nlist = 16
    build_ivf_store(emb, root, nlist=nlist)
    sizes = (
        spark.read.parquet(f"{current_index_dir(root)}/assigned")
        .groupBy("cell")
        .count()
        .collect()
    )
    counts = {r["cell"]: r["count"] for r in sizes}
    mean = emb.count() / nlist  # mean over ALL nlist cells, empty included
    assert max(counts.values()) <= 2.0 * mean, counts


def test_attr_cols_filtered_probe_and_lifecycle(spark, tmp_path):
    """Attribute-carrying store (x20): metadata rides in the cell
    partitions, appends must conform to the stored schema, rebuilds
    preserve attributes, and a filtered probe (a) returns only
    matching rows with exact-k semantics and (b) pushes the predicate
    into the parquet scan."""
    from python_openetl_spark.operators.ivf_store import (
        rebuild_ivf_store,
        store_attr_cols,
        vacuum_ivf_store,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    root = str(tmp_path / "attr_store")
    build_ivf_store(
        emb.filter(F.col("vec_id") % 10 != 7), root, nlist=8, attr_cols=("label",)
    )
    assert store_attr_cols(spark, root) == ("label",)
    # conformance: a batch without the attribute column is rejected
    with pytest.raises(ValueError, match="label"):
        append_to_ivf_store(
            emb.filter(F.col("vec_id") % 10 == 7).select("vec_id", "embedding"), root
        )
    append_to_ivf_store(emb.filter(F.col("vec_id") % 10 == 7), root)

    q = (
        emb.filter(F.col("vec_id").isin(1, 5))
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .toPandas()
    )
    res = ivf_store_topk(spark, root, q, k=5, nprobe=8, where="label = 1")
    labels = {r["label"] for r in emb.filter(F.col("vec_id").isin(
        *[row["vec_id"] for row in res.collect()])).select("label").collect()}
    assert labels == {1}
    assert res.count() == 10  # exact k among the matching subset
    # the predicate reaches the parquet reader on the pruned scan
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "label" in plan

    # rebuild preserves the attribute column; filtered probe still works
    rebuild_ivf_store(spark, root)
    assert store_attr_cols(spark, root) == ("label",)
    res2 = ivf_store_topk(spark, root, q, k=5, nprobe=8, where="label = 1")
    assert {(r["query_id"], r["vec_id"]) for r in res2.collect()} == {
        (r["query_id"], r["vec_id"]) for r in res.collect()
    }
    vacuum_ivf_store(root, keep_last=1)


def test_append_casts_attrs_to_store_types(spark, tmp_path):
    """Appends conform attribute TYPES, not just names (r8 advice): a
    batch carrying ``label`` as a wider/different type is cast to the
    store's type before the partitioned write, so every cell partition
    stays schema-homogeneous and later probes/rebuilds never hit a
    parquet type conflict."""
    from python_openetl_spark.operators.ivf_store import (
        current_index_dir,
        rebuild_ivf_store,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    root = str(tmp_path / "typed_store")
    build_ivf_store(
        emb.filter(F.col("vec_id") % 10 != 7), root, nlist=8, attr_cols=("label",)
    )
    store_label_type = {
        f.name: f.dataType.simpleString()
        for f in spark.read.parquet(f"{current_index_dir(root)}/assigned").schema
    }["label"]
    # the batch carries label as LONG (and as a castable string in a
    # second append) — both must land as the store's type
    append_to_ivf_store(
        emb.filter(F.col("vec_id") % 10 == 7).withColumn(
            "label", F.col("label").cast("long")
        ),
        root,
    )
    append_to_ivf_store(
        emb.filter(F.col("vec_id") % 10 == 7)
        .withColumn("label", F.col("label").cast("string"))
        .withColumn("vec_id", F.col("vec_id") + 1_000_000),
        root,
    )
    live = spark.read.parquet(f"{current_index_dir(root)}/assigned")
    assert (
        {f.name: f.dataType.simpleString() for f in live.schema}["label"]
        == store_label_type
    )
    assert live.count() == emb.count() + emb.filter(F.col("vec_id") % 10 == 7).count()
    # the conformed store still rebuilds and serves filtered probes
    rebuild_ivf_store(spark, root)
    q = (
        emb.filter(F.col("vec_id") == 2)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .toPandas()
    )
    res = ivf_store_topk(spark, root, q, k=3, nprobe=8, where="label = 1")
    assert res.count() == 3


def test_probe_excludes_query_id_equal_rows(spark, store):
    """The probe's self-exclusion contract, pinned (r8 advice asked for
    an explicit pin): a query whose query_id EQUALS a stored vec_id
    never receives that row — x20's brute-force SQL oracle carries the
    matching ``c.vec_id <> q.query_id`` clause, so both sides must
    keep agreeing."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = (
        emb.filter(F.col("vec_id") == 2)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .toPandas()
    )
    res = ivf_store_topk(spark, store, q, k=5, nprobe=16).collect()
    assert len(res) == 5
    assert all(r["vec_id"] != 2 for r in res)
    # ...and an id-disjoint alias of the same vector DOES see vec 2 at
    # cosine 1.0, proving exclusion is by id, not by similarity
    q2 = q.assign(query_id=q["query_id"] + 2_000_000)
    top = ivf_store_topk(spark, store, q2, k=1, nprobe=16).collect()[0]
    assert top["vec_id"] == 2 and top["cos_sim"] > 0.999999


def test_range_search_exact_and_subset_properties(spark, store):
    """x21: at nprobe = nlist the radius result equals the brute-force
    set; at production nprobe it is a SUBSET (IVF's probed-cells
    contract); radius > 1 is empty; the where= pre-filter composes."""
    from python_openetl_spark.operators.ivf_store import ivf_store_range_search

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = _queries(spark)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in ivf_store_range_search(
            spark, store, q, radius=0.15, nprobe=16
        ).collect()
    }
    # brute force in numpy over the same fixture
    import numpy as np

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.stack([np.array(r["embedding"], dtype=np.float64) for r in rows])
    matn = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-300)
    want = set()
    for _, qr in q.iterrows():
        qv = np.asarray(qr["embedding"], dtype=np.float64)
        qv = qv / max(np.linalg.norm(qv), 1e-300)
        cos = matn @ qv
        for vid, c in zip(ids, cos):
            if c >= 0.15 and vid != qr["query_id"]:
                want.add((int(qr["query_id"]), int(vid)))
    assert exact == want
    approx = {
        (r["query_id"], r["vec_id"])
        for r in ivf_store_range_search(
            spark, store, q, radius=0.15, nprobe=4
        ).collect()
    }
    assert approx <= exact and approx  # subset, non-empty at this radius
    assert (
        ivf_store_range_search(spark, store, q, radius=1.000001, nprobe=16).count()
        == 0
    )
    # radius BELOW every possible cosine (r9 verdict #5): full probe
    # returns every (query, vector) pair except self-matches
    n_all = ivf_store_range_search(
        spark, store, q, radius=-1.000001, nprobe=16
    ).count()
    n_q = len(q)
    n_self = emb.filter(
        F.col("vec_id").isin([int(v) for v in q["query_id"]])
    ).count()
    assert n_all == n_q * emb.count() - n_self


def test_append_uncastable_attr_value_raises(spark, tmp_path):
    """Round-9 advice: plain CAST only raises under ANSI (Spark 4);
    on 3.5 an un-castable value silently becomes NULL and corrupts
    filterable store metadata. append_to_ivf_store therefore runs a
    value-level try_cast null-introduced check and raises ValueError,
    and a genuinely-NULL input attribute still appends fine."""
    import pytest as _pytest

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    root = str(tmp_path / "strict_store")
    build_ivf_store(
        emb.filter(F.col("vec_id") % 10 != 7), root, nlist=8, attr_cols=("label",)
    )
    # label is numeric in the store; a non-numeric string cannot cast
    bad = (
        emb.filter(F.col("vec_id") % 10 == 7)
        .withColumn("label", F.lit("not-a-number"))
    )
    with _pytest.raises(ValueError, match="not castable.*label"):
        append_to_ivf_store(bad, root)
    # NULL input values are NOT cast failures — they pass through
    ok = (
        emb.filter(F.col("vec_id") % 10 == 7)
        .withColumn("label", F.lit(None).cast("string"))
    )
    append_to_ivf_store(ok, root)
    from python_openetl_spark.operators.ivf_store import current_index_dir

    live = spark.read.parquet(f"{current_index_dir(root)}/assigned")
    assert live.count() == emb.count()


def test_delete_tombstones_all_read_paths(spark, tmp_path):
    """x23's operator contract: delete_from_ivf_store (id list or SQL
    predicate) hides rows from topk, range search, AND the store kNN
    join (every path goes through _load_assigned); deletes compact at
    rebuild (new version has no tombstones, tombstoned generations
    really gone); deleting a missing id is a 0 no-op; a re-appended
    deleted id is a NEW write generation and resurrects immediately
    (the r11 generation-scoped tombstone contract)."""
    from python_openetl_spark.operators.ivf_store import (
        current_index_dir,
        delete_from_ivf_store,
        ivf_store_range_search,
        rebuild_ivf_store,
    )
    from python_openetl_spark.operators.knn_join import ivf_store_knn_join

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    root = str(tmp_path / "del_store")
    build_ivf_store(emb, root, nlist=8)
    n_total = emb.count()
    victims = [r["vec_id"] for r in emb.limit(40).collect()][:20]

    # predicate delete + id delete, counts are exact
    n1 = delete_from_ivf_store(spark, root, ids=victims[:10])
    n2 = delete_from_ivf_store(spark, root, where=f"vec_id IN ({','.join(map(str, victims[10:]))})")
    assert n1 == 10 and n2 == 10
    assert delete_from_ivf_store(spark, root, ids=[99_999_999]) == 0
    # double-delete of an already-dead id is also a 0 no-op
    assert delete_from_ivf_store(spark, root, ids=victims[:3]) == 0

    q = (
        emb.filter(~F.col("vec_id").isin(victims)).limit(3)
        .select(F.col("vec_id").alias("query_id"), "embedding").toPandas()
    )
    topk = ivf_store_topk(spark, root, q, k=n_total - 21, nprobe=8)
    assert topk.filter(F.col("vec_id").isin(victims)).count() == 0
    rs = ivf_store_range_search(spark, root, q, radius=-1.1, nprobe=8)
    assert rs.filter(F.col("vec_id").isin(victims)).count() == 0
    assert rs.count() == 3 * (n_total - 20) - 3  # all live minus self
    qdf = spark.createDataFrame(q)
    kj = ivf_store_knn_join(spark, root, qdf, k=n_total - 21, nprobe=8)
    assert kj.filter(F.col("vec_id").isin(victims)).count() == 0

    # re-append one victim: a NEW write generation, visible at once
    # (generation-scoped tombstones — the r11 update-verb contract)
    append_to_ivf_store(emb.filter(F.col("vec_id") == victims[0]), root)
    rs2 = ivf_store_range_search(spark, root, q, radius=-1.1, nprobe=8)
    assert rs2.filter(F.col("vec_id") == victims[0]).count() == 3
    # ...and a re-delete kills the resurrected generation too
    assert delete_from_ivf_store(spark, root, ids=[victims[0]]) == 1
    rs2b = ivf_store_range_search(spark, root, q, radius=-1.1, nprobe=8)
    assert rs2b.filter(F.col("vec_id") == victims[0]).count() == 0

    # rebuild compacts: tombstones gone, rows really gone, store serves
    rebuild_ivf_store(spark, root)
    import os

    assert not os.path.isdir(os.path.join(current_index_dir(root), "deleted"))
    live = spark.read.parquet(os.path.join(current_index_dir(root), "assigned"))
    assert live.count() == n_total - 20
    assert live.filter(F.col("vec_id").isin(victims)).count() == 0
    # post-rebuild append resurrects the id
    append_to_ivf_store(emb.filter(F.col("vec_id") == victims[0]), root)
    rs3 = ivf_store_range_search(spark, root, q, radius=-1.1, nprobe=8)
    assert rs3.filter(F.col("vec_id") == victims[0]).count() == 3

    import pytest as _pytest

    with _pytest.raises(ValueError, match="exactly one"):
        delete_from_ivf_store(spark, root)
    with _pytest.raises(ValueError, match="exactly one"):
        delete_from_ivf_store(spark, root, ids=[1], where="vec_id = 1")


def test_delete_all_leaves_probeable_empty_store(spark, tmp_path):
    """r10 verdict #4 hostile shape: delete EVERY id, then probe. All
    read paths serve empty results (no crash, no ghost rows); rebuild
    of a fully-tombstoned store raises the empty-corpus error CLEANLY
    and leaves the current version serving; a post-delete append makes
    new ids visible again (their ids were never tombstoned)."""
    from python_openetl_spark.operators.ivf_store import (
        delete_from_ivf_store,
        ivf_store_range_search,
        rebuild_ivf_store,
    )
    from python_openetl_spark.operators.knn_join import ivf_store_knn_join

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
        F.col("vec_id") < 60
    )
    root = str(tmp_path / "all_gone")
    build_ivf_store(emb, root, nlist=4)
    n = delete_from_ivf_store(spark, root, where="vec_id IS NOT NULL")
    assert n == emb.count()
    # a second sweep finds nothing left to delete
    assert delete_from_ivf_store(spark, root, where="vec_id >= 0") == 0

    q = emb.limit(2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    ).toPandas()
    assert ivf_store_topk(spark, root, q, k=5, nprobe=4).count() == 0
    assert ivf_store_range_search(spark, root, q, radius=-1.1, nprobe=4).count() == 0
    qdf = spark.createDataFrame(q)
    assert ivf_store_knn_join(spark, root, qdf, k=3, nprobe=4).count() == 0

    with pytest.raises(ValueError, match="empty corpus"):
        rebuild_ivf_store(spark, root)
    # the failed rebuild left the store intact and still serving
    assert ivf_store_topk(spark, root, q, k=5, nprobe=4).count() == 0

    # append NEW ids (never tombstoned): visible immediately
    fresh = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
        (F.col("vec_id") >= 60) & (F.col("vec_id") < 70)
    )
    append_to_ivf_store(fresh, root)
    got = ivf_store_topk(spark, root, q, k=5, nprobe=4)
    assert got.count() > 0
    assert got.filter(F.col("vec_id") < 60).count() == 0


def test_update_ivf_store_reembed_visible_immediately(spark, tmp_path):
    """x24's operator contract: update = tombstone current generation +
    append new generation. Updated vectors serve IMMEDIATELY (no
    rebuild): the updated id's old embedding can no longer rank, the
    new one ranks under exact (nprobe=nlist) probes as brute force
    would place it; non-live ids upsert; a pk-duplicate batch raises;
    rebuild compacts the superseded generation away."""
    from python_openetl_spark.operators.ivf_store import (
        ivf_store_range_search,
        rebuild_ivf_store,
        update_ivf_store,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
        F.col("vec_id") < 80
    )
    root = str(tmp_path / "upd_store")
    build_ivf_store(emb, root, nlist=4)
    n = emb.count()

    # replace vec 3's embedding with (a scaled copy of) vec 7's, and
    # upsert a brand-new id 1000 with vec 9's embedding
    import pandas as pd

    src = {r["vec_id"]: list(r["embedding"]) for r in emb.filter(
        F.col("vec_id").isin(3, 7, 9)).collect()}
    batch = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": [3, 1000],
             "embedding": [[2.0 * x for x in src[7]], src[9]],
             "label": [1, 2]}
        )
    )
    assert update_ivf_store(batch, root) == 1  # only id 3 was live

    q = (
        emb.filter(F.col("vec_id") == 7)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .toPandas()
    )
    topk = ivf_store_topk(spark, root, q, k=3, nprobe=4).toPandas()
    # id 3 now IS vec 7's direction: cosine 1.0, rank 1
    assert int(topk.iloc[0]["vec_id"]) == 3
    assert abs(float(topk.iloc[0]["cos_sim"]) - 1.0) < 1e-6
    # the upserted id 1000 is findable as itself
    q9 = (
        emb.filter(F.col("vec_id") == 9)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .toPandas()
    )
    t9 = ivf_store_topk(spark, root, q9, k=1, nprobe=4).toPandas()
    assert int(t9.iloc[0]["vec_id"]) == 1000

    # store row count: n live ids + the upsert (old gen of 3 hidden)
    rs = ivf_store_range_search(spark, root, q, radius=-1.1, nprobe=4)
    assert rs.count() == n + 1 - 1  # all live minus query self-match

    with pytest.raises(ValueError, match="unique"):
        update_ivf_store(
            spark.createDataFrame(
                pd.DataFrame({"vec_id": [5, 5],
                              "embedding": [src[9], src[9]],
                              "label": [0, 0]})
            ),
            root,
        )

    # rebuild compacts: one physical row per live id, update persists
    rebuild_ivf_store(spark, root)
    import os
    from python_openetl_spark.operators.ivf_store import current_index_dir

    live = spark.read.parquet(os.path.join(current_index_dir(root), "assigned"))
    assert live.count() == n + 1
    assert live.filter(F.col("vec_id") == 3).count() == 1
    topk2 = ivf_store_topk(spark, root, q, k=3, nprobe=4).toPandas()
    assert int(topk2.iloc[0]["vec_id"]) == 3


def test_load_assigned_mixed_legacy_and_seq_files(spark, tmp_path):
    """A pre-r11 store written to after upgrade mixes legacy
    (seq-less) files with seq-stamped files in BOTH assigned/ and
    deleted/. The loader must read legacy rows as generation 0 and
    legacy tombstones as kill-all regardless of which file Spark would
    infer the schema from (mergeSchema; r11 review finding: without it
    a deleted vector could silently resurrect or an update could hide
    live rows depending on file listing order)."""
    import os

    from python_openetl_spark.operators.ivf_store import _load_assigned

    idx = str(tmp_path / "idx")
    a_dir, d_dir = os.path.join(idx, "assigned"), os.path.join(idx, "deleted")
    vec = [0.1, 0.2]
    # legacy assigned file: ids 1, 2, 3 — no __seq column
    spark.createDataFrame(
        [(1, vec, 0), (2, vec, 0), (3, vec, 1)],
        "vec_id long, embedding array<float>, cell int",
    ).coalesce(1).write.mode("append").parquet(a_dir)
    # new assigned file: id 2 re-embedded at generation 1
    spark.createDataFrame(
        [(2, vec, 1, 1)],
        "vec_id long, embedding array<float>, cell int, __seq int",
    ).coalesce(1).write.mode("append").parquet(a_dir)
    # legacy tombstone (id-only): id 1 is deleted forever
    spark.createDataFrame([(1,)], "vec_id long").coalesce(1).write.mode(
        "append"
    ).parquet(d_dir)
    # new tombstone: id 2's generation-0 rows superseded
    spark.createDataFrame([(2, 0)], "vec_id long, seq int").coalesce(
        1
    ).write.mode("append").parquet(d_dir)
    live = _load_assigned(spark, idx)
    rows = {(r["vec_id"], r["cell"]) for r in live.collect()}
    # id 1: killed by the legacy kill-all tombstone
    # id 2: ONLY the generation-1 row survives (legacy row hidden)
    # id 3: untouched legacy row survives as generation 0
    assert rows == {(2, 1), (3, 1)}, rows


def test_store_read_schema_is_pinned_no_footer_inference(spark, tmp_path):
    """r12 (r11 verdict #3): build/rebuild/append pin the assigned and
    deleted read schemas in _schema.json and _load_assigned passes them
    via spark.read.schema(...) — planning no longer opens every parquet
    footer (mergeSchema), which cost x15 +30% at bench scale and is a
    footer-scan-per-file hazard at 100 TB file counts. The pinned read
    must be COLUMN-FOR-COLUMN identical to the mergeSchema read."""
    import json
    import os

    from python_openetl_spark.operators.ivf_store import (
        _ASSIGNED,
        _SCHEMA_FILE,
        _load_assigned,
        delete_from_ivf_store,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    root = str(tmp_path / "store")
    build_ivf_store(emb.filter(F.col("vec_id") < 200), root, nlist=4)
    append_to_ivf_store(
        emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 240)), root
    )
    delete_from_ivf_store(spark, root, ids=[5])
    idx = current_index_dir(root)
    pin_path = os.path.join(idx, _SCHEMA_FILE)
    assert os.path.exists(pin_path)
    pinned = json.loads(open(pin_path).read())
    assert set(pinned) == {"assigned", "deleted"}

    live_pinned = _load_assigned(spark, idx)
    merged = (
        spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(idx, _ASSIGNED))
        .schema
    )
    # identical output schema (same names, types, order) as inference
    assert [
        (f.name, f.dataType) for f in live_pinned.schema.fields
    ] == [(f.name, f.dataType) for f in merged.fields if f.name != "__seq"]
    # and identical contents
    assert live_pinned.count() == 239
    assert live_pinned.filter(F.col("vec_id") == 5).count() == 0


def test_legacy_store_without_pin_reads_and_append_migrates(spark, tmp_path):
    """A pre-r12 store (no _schema.json) must keep reading via the
    mergeSchema fallback, and its FIRST append must migrate it: pin the
    union schema once so every later probe skips footer inference."""
    import os

    from python_openetl_spark.operators.ivf_store import (
        _SCHEMA_FILE,
        _load_assigned,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    root = str(tmp_path / "store")
    build_ivf_store(emb.filter(F.col("vec_id") < 100), root, nlist=4)
    idx = current_index_dir(root)
    os.unlink(os.path.join(idx, _SCHEMA_FILE))  # simulate pre-pin store

    assert _load_assigned(spark, idx).count() == 100  # fallback path
    append_to_ivf_store(
        emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 120)), root
    )
    assert os.path.exists(os.path.join(idx, _SCHEMA_FILE))  # migrated
    assert _load_assigned(spark, idx).count() == 120


def test_bump_seq_serializes_concurrent_writers(spark, tmp_path):
    """r12 (r11 verdict #4): the write-generation counter takes a
    _seq.lock O_EXCL critical section — two concurrent appenders can
    no longer read the same seq and silently share a write generation
    (which would corrupt tombstone scoping). Hammer the counter from
    parallel threads: every bump must return a DISTINCT generation and
    the final counter must equal the total number of bumps."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    from python_openetl_spark.operators.ivf_store import _bump_seq, _read_seq

    idx = str(tmp_path / "idx")
    os.makedirs(idx)
    with ThreadPoolExecutor(max_workers=8) as pool:
        seqs = list(pool.map(lambda _: _bump_seq(idx), range(40)))
    assert sorted(seqs) == list(range(1, 41))  # distinct, gapless
    assert _read_seq(idx) == 40
    assert not os.path.exists(os.path.join(idx, "_seq.lock"))  # released


def test_bump_seq_crashed_holder_fails_loudly(spark, tmp_path):
    """A stale _seq.lock (crashed writer) must make the next bump raise
    with remediation guidance instead of deadlocking or proceeding —
    fail-loud, never fail-corrupt (the plans/versioned.py contract)."""
    import os

    import python_openetl_spark.operators.ivf_store as ivf

    idx = str(tmp_path / "idx")
    os.makedirs(idx)
    open(os.path.join(idx, "_seq.lock"), "w").close()
    # shrink the wait so the test doesn't sit out the full 10s deadline:
    # first call (computes the deadline) sees t0, every later call sees
    # t0 + 11 — already past the deadline
    orig = ivf.time.monotonic
    t0 = orig()
    calls = iter([t0])
    try:
        ivf.time.monotonic = lambda: next(calls, t0 + 11.0)
        with pytest.raises(RuntimeError, match="lock held too long"):
            ivf._bump_seq(idx)
    finally:
        ivf.time.monotonic = orig


def test_update_delete_update_generation_interleaving(spark, tmp_path):
    """r12 hostile shape (r11 verdict #5): update -> delete -> update of
    the SAME id walks three write generations; after each step exactly
    the intended embedding (or nothing) must be live on the probe path.
    A tombstone that isn't generation-scoped would either resurrect the
    deleted vector too early or hide the re-appended one."""
    from python_openetl_spark.operators.ivf_store import (
        _load_assigned,
        delete_from_ivf_store,
        ivf_store_topk,
        update_ivf_store,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
        F.col("vec_id") < 50
    )
    root = str(tmp_path / "store")
    build_ivf_store(emb, root, nlist=4)
    target = emb.filter(F.col("vec_id") == 7)

    def probe_top1():
        q = target.select(
            F.lit(900_007).cast("long").alias("query_id"), "embedding"
        ).toPandas()
        rows = ivf_store_topk(spark, root, q, k=1, nprobe=4).collect()
        return rows[0]["vec_id"] if rows else None

    def live_7():
        return (
            _load_assigned(spark, current_index_dir(root))
            .filter(F.col("vec_id") == 7)
            .count()
        )

    # update 1: negate id 7 — the original generation must be hidden
    neg = target.select(
        "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
    )
    assert update_ivf_store(neg, root) == 1
    assert live_7() == 1
    assert probe_top1() != 7  # query = ORIGINAL embedding; live copy is negated

    # delete: id 7 fully gone, at the post-update generation
    assert delete_from_ivf_store(spark, root, ids=[7]) == 1
    assert live_7() == 0
    assert probe_top1() != 7

    # update 2 (upsert path: id not live): original embedding returns,
    # in a generation NEWER than the delete's tombstone
    assert update_ivf_store(target, root) == 0  # nothing live to supersede
    assert live_7() == 1
    assert probe_top1() == 7  # cos 1.0 with its own query again


def test_rebuild_holds_write_lock_and_waiting_append_retries(spark, tmp_path):
    """r13 advice: rebuild_ivf_store holds the store write lock, and an
    append that waited it out re-resolves the pointer and retries on
    the NEW version (assigning against ITS centroids) instead of
    writing into the superseded dir. Staged here by holding v1's lock
    manually while committing a rebuild underneath the parked writer."""
    import os
    import threading

    from python_openetl_spark.operators.ivf_store import (
        _build_into,
        _commit_version,
        _load_assigned,
        _version_dir,
        rebuild_ivf_store,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    root = str(tmp_path / "store")
    build_ivf_store(emb.filter(F.col("vec_id") < 200), root, nlist=8)
    v1 = current_index_dir(root)
    lock = os.path.join(v1, "_write.lock")
    fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    os.close(fd)  # pose as an in-flight rebuild holding v1's lock
    done = threading.Event()

    def blocked_append():
        append_to_ivf_store(
            emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 220)),
            root,
        )
        done.set()

    t = threading.Thread(target=blocked_append)
    t.start()
    try:
        # commit a rebuild into v2 the way rebuild_ivf_store would
        # (bypassing its lock, which we hold to stage the race)
        current = _load_assigned(spark, v1, "vec_id").select(
            "vec_id", "embedding"
        )
        _build_into(
            current, _version_dir(root, 2), 8, "vec_id", "embedding", 43, 2,
            attr_cols=(),
        )
        _commit_version(root, 2)
        assert not done.is_set()  # writer still parked on v1's lock
    finally:
        os.unlink(lock)
    t.join(timeout=120)
    assert done.is_set()
    assert current_index_dir(root).endswith("v00000002")
    live = _load_assigned(spark, current_index_dir(root), "vec_id")
    assert live.count() == 220  # the batch landed in the LIVE version
    # and a real (locked) rebuild still round-trips on top
    rebuild_ivf_store(spark, root)
    assert current_index_dir(root).endswith("v00000003")
    assert _load_assigned(spark, current_index_dir(root), "vec_id").count() == 220


def test_delete_waiting_out_rebuild_tombstones_new_version(spark, tmp_path):
    """_tombstone's currency re-check: a delete that waited out a
    rebuild writes its tombstones into the NEW current version (the
    superseded dir is invisible to readers and vacuumed away), so the
    delete takes effect instead of vanishing."""
    import os
    import threading

    from python_openetl_spark.operators.ivf_store import (
        _build_into,
        _commit_version,
        _load_assigned,
        _version_dir,
        delete_from_ivf_store,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    root = str(tmp_path / "store")
    build_ivf_store(emb.filter(F.col("vec_id") < 100), root, nlist=8)
    v1 = current_index_dir(root)
    lock = os.path.join(v1, "_write.lock")
    fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    os.close(fd)
    result = {}

    def blocked_delete():
        result["n"] = delete_from_ivf_store(
            spark, root, ids=[1, 2, 3], id_col="vec_id"
        )

    t = threading.Thread(target=blocked_delete)
    t.start()
    try:
        current = _load_assigned(spark, v1, "vec_id").select(
            "vec_id", "embedding"
        )
        _build_into(
            current, _version_dir(root, 2), 8, "vec_id", "embedding", 43, 2,
            attr_cols=(),
        )
        _commit_version(root, 2)
    finally:
        os.unlink(lock)
    t.join(timeout=120)
    assert result.get("n") == 3
    live = _load_assigned(spark, current_index_dir(root), "vec_id")
    assert live.count() == 97  # tombstones landed in the live v2
    assert live.filter(F.col("vec_id").isin(1, 2, 3)).count() == 0


def _vec_frame(spark, ids, vecs, **attrs):
    """A (vec_id, embedding array<float>, *attrs) frame with the exact
    float32 values of ``vecs``."""
    import pyarrow as pa

    cols = {
        "vec_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "embedding": pa.array(
            [v for v in np.asarray(vecs, dtype=np.float32)],
            type=pa.list_(pa.float32()),
        ),
    }
    cols.update({k: pa.array(v) for k, v in attrs.items()})
    return spark.createDataFrame(pa.table(cols))


def test_zero_norm_query_scores_zero_without_warning(spark, store):
    """A zero query vector is clamped like a stored one: no numpy
    divide-by-zero while choosing cells, and k rows at cosine 0.0."""
    import warnings

    dim = len(_queries(spark)["embedding"][0])
    q = pd.DataFrame({"query_id": [5_000_000], "embedding": [[0.0] * dim]})
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        got = ivf_store_topk(spark, store, q, k=4, nprobe=2).collect()
    assert len(got) == 4
    assert all(r["cos_sim"] == 0.0 for r in got)
    assert sorted(r["rank"] for r in got) == [1, 2, 3, 4]


def test_probe_runs_three_spark_jobs(spark, tmp_path):
    """One probe of a store with more cell directories than Spark's
    default 32-path parallel-discovery threshold is one broadcast, one
    scan and one top-k stage: the partition listing stays on the driver
    in local mode and the probe relation is a driver-local table. The
    two-broadcast probe over pickled-RDD frames took 5."""
    import os

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((3000, 16)).astype(np.float32)
    corpus = _vec_frame(spark, np.arange(3000), vecs)
    root = str(tmp_path / "store")
    build_ivf_store(corpus.filter("vec_id < 2000"), root, nlist=64)
    append_to_ivf_store(corpus.filter("vec_id >= 2000 AND vec_id < 2500"), root)
    append_to_ivf_store(corpus.filter("vec_id >= 2500"), root)
    cell_dirs = [
        d
        for d in os.listdir(os.path.join(current_index_dir(root), "assigned"))
        if d.startswith("cell=")
    ]
    assert len(cell_dirs) > 32
    q = pd.DataFrame(
        {
            "query_id": np.arange(10_000, 10_064),
            "embedding": list(rng.standard_normal((64, 16)).astype(np.float32)),
        }
    )
    sc = spark.sparkContext
    group = f"ivf-probe-jobs-{os.getpid()}"
    sc.setJobGroup(group, "ivf_store_topk job-count guard")
    try:
        got = ivf_store_topk(spark, root, q, k=10, nprobe=8).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(got) == 640
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3


def test_probe_scores_bit_identical_to_bruteforce(spark, tmp_path):
    """At nprobe = nlist both probe verbs return exactly what a
    brute-force cross join scored with ``_cosine_clamped`` returns —
    same (query, id, rank) rows and the same cosine doubles — over a
    store holding a zero-norm vector, a tombstoned id, and under a
    ``where`` pre-filter."""
    from pyspark.sql import Window

    from python_openetl_spark.operators.ivf_store import (
        _cosine_clamped,
        delete_from_ivf_store,
        ivf_store_range_search,
    )

    rng = np.random.default_rng(11)
    n, dim = 400, 16
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs[0] = 0.0  # zero-norm stored vector
    ids = np.arange(n)
    labels = (ids % 3).astype(np.int32)
    corpus = _vec_frame(spark, ids, vecs, label=labels)
    root = str(tmp_path / "store")
    build_ivf_store(
        corpus.filter("vec_id < 300"), root, nlist=8, attr_cols=("label",)
    )
    append_to_ivf_store(corpus.filter("vec_id >= 300"), root)
    assert delete_from_ivf_store(spark, root, ids=[5, 303]) == 2

    qvecs = rng.standard_normal((5, dim)).astype(np.float32)
    qvecs[0] = vecs[7]  # query id 7 equals a stored id: excluded by id
    qids = np.array([7, 20_001, 20_002, 20_003, 20_004])
    q = pd.DataFrame({"query_id": qids, "embedding": list(qvecs)})
    qdf = _vec_frame(spark, qids, qvecs).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv")
    )
    where = "label != 1"
    live = corpus.filter(~F.col("vec_id").isin(5, 303)).filter(where)
    brute = (
        live.crossJoin(qdf)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            _cosine_clamped(F.col("embedding"), F.col("__qv")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    ranked = brute.withColumn("rank", F.row_number().over(w))

    def rows(df, *cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    for k in (12, 10_000):
        got = ivf_store_topk(spark, root, q, k=k, nprobe=8, where=where)
        want = ranked.filter(F.col("rank") <= k)
        cols = ("query_id", "vec_id", "rank", "cos_sim")
        assert rows(got, *cols) == rows(want, *cols)
    got = ivf_store_range_search(spark, root, q, radius=0.0, nprobe=8, where=where)
    want = brute.filter(F.col("cos_sim") >= 0.0)
    cols = ("query_id", "vec_id", "cos_sim")
    got_rows = rows(got, *cols)
    assert got_rows == rows(want, *cols)
    assert (7, 0, 0.0) in got_rows  # the zero-norm vector scores 0.0
    assert all(r[1] not in (5, 303) for r in got_rows)
