"""Connected-components duplicate clustering vs a driver-side union-find."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from python_openetl_spark.operators.cluster import (
    canonicalize_corpus,
    connected_components,
)


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots: dict[int, list[int]] = {}
    for n in parent:
        roots.setdefault(find(n), []).append(n)
    return {n: min(members) for r, members in roots.items() for n in members}


def _run(spark, edges):
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    want = set(_union_find(edges).items())
    # both strategies: driver union-find (default: small edge set) and
    # the distributed star loop (forced via driver_threshold=0)
    for thr in (2_000_000, 0):
        got = {
            (r["id"], r["cluster_id"])
            for r in connected_components(pairs, driver_threshold=thr).collect()
        }
        assert got == want, f"driver_threshold={thr}"


def test_long_chain_converges(spark):
    # a path graph needs multiple star rounds; diameter >> round count
    _run(spark, [(i, i + 1) for i in range(40)])


def test_chain_given_in_descending_order(spark):
    _run(spark, [(i + 1, i) for i in range(20)])


def test_disjoint_components_and_self_loops(spark):
    _run(spark, [(1, 2), (2, 3), (10, 11), (5, 5), (20, 21), (21, 20)])


def test_random_graphs_match_union_find(spark):
    rng = random.Random(42)
    for _ in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(10, 80))
        ]
        edges = [(a, b) for a, b in edges if a != b] or [(0, 1)]
        _run(spark, edges)


def test_canonicalize_corpus_keeps_min_and_singletons(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (6, 7)], "doc_a long, doc_b long"
    )
    kept = sorted(
        r["doc_id"] for r in canonicalize_corpus(docs, pairs, "doc_id").collect()
    )
    # clusters {1,3,5} -> keep 1; {6,7} -> keep 6; 0,2,4 untouched
    assert kept == [0, 1, 2, 4, 6]


def test_empty_pair_set_is_identity(spark):
    docs = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert canonicalize_corpus(docs, pairs, "doc_id").count() == 2


def test_nonconvergence_guard(spark):
    pairs = spark.createDataFrame([(i, i + 1) for i in range(12)], "doc_a long, doc_b long")
    with pytest.raises(RuntimeError):
        connected_components(pairs, max_iter=0, driver_threshold=0)


# --------------------------------------------------------------- triangles --


def test_triangle_counts_planted_graph(spark):
    """4-clique: every node in 3 triangles. Path 10-11-12: zero
    triangles but nodes still reported. Self-loops, duplicate and
    reversed edges must not inflate counts."""
    from python_openetl_spark.operators.cluster import triangle_counts

    edges = (
        # 4-clique on 1..4
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
        # noise: duplicates, reversed, self-loop
        + [(2, 1), (1, 2), (3, 3)]
        # triangle-free path
        + [(10, 11), (11, 12)]
    )
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r["id"]: r["triangles"] for r in triangle_counts(pairs).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 10: 0, 11: 0, 12: 0}


def test_triangle_counts_two_triangles_sharing_an_edge(spark):
    """Bowtie-ish: triangles (1,2,3) and (2,3,4) share edge 2-3 — the
    shared nodes count twice, the apexes once."""
    from python_openetl_spark.operators.cluster import triangle_counts

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)], "doc_a long, doc_b long"
    )
    got = {r["id"]: r["triangles"] for r in triangle_counts(pairs).collect()}
    assert got == {1: 1, 2: 2, 3: 2, 4: 1}


def test_triangle_counts_empty_and_skew_star(spark):
    """Empty graph -> empty result; a star (one celebrity hub, no
    closing edges) -> all zeros — the degree orientation points every
    edge AT the hub, so the hub generates no wedges (the 'last
    reducer' fix this algorithm exists for)."""
    from python_openetl_spark.operators.cluster import triangle_counts

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert triangle_counts(empty).count() == 0
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 40)], "doc_a long, doc_b long"
    )
    got = triangle_counts(star)
    assert got.count() == 40
    assert got.filter(F.col("triangles") != 0).count() == 0


def test_triangle_counts_self_loops_and_isolated_clique(spark):
    """r12 hostile shape (r11 verdict #5): self-loops must be dropped
    before orientation (a self-loop at a clique node would otherwise
    forge wedges), and an isolated K4 clique plus a triangle-free
    tendril must count independently — K4 gives every member exactly
    C(3,2)=3 triangles, the tendril's nodes all report 0."""
    from python_openetl_spark.operators.cluster import triangle_counts

    edges = []
    # isolated 4-clique on 10,11,12,13
    clique = [10, 11, 12, 13]
    edges += [(a, b) for a in clique for b in clique if a < b]
    # self-loops planted on clique AND tendril nodes
    edges += [(10, 10), (20, 20)]
    # triangle-free tendril 20-21-22-23
    edges += [(20, 21), (21, 22), (22, 23)]
    # duplicate + reversed noise
    edges += [(11, 10), (12, 13), (12, 13)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r["id"]: r["triangles"] for r in triangle_counts(pairs).collect()}
    assert got == {
        10: 3, 11: 3, 12: 3, 13: 3,
        20: 0, 21: 0, 22: 0, 23: 0,
    }, got


def test_canonicalize_corpus_never_shuffles_the_corpus(spark, tmp_path):
    """On the driver union-find path the loser ids are a sized
    driver-local relation, so the anti-join is broadcast: the physical
    plan has no shuffle Exchange and no sort-merge join above the corpus
    scan (a pickled-RDD loser set planned a SortMergeJoin LeftAnti with
    a hash Exchange of the whole corpus)."""
    import re

    path = str(tmp_path / "corpus")
    spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), F.lit("text").alias("text")
    ).write.parquet(path)
    corpus = spark.read.parquet(path)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 200, 2)], "doc_a long, doc_b long"
    )
    kept = canonicalize_corpus(corpus, pairs, "doc_id")
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan
    assert not re.search(r"(?<!Broadcast)Exchange", plan), plan
    assert "SortMergeJoin" not in plan, plan
    assert kept.count() == 900
