"""Duplicate-cluster resolution: connected components over near-dup pairs.

Pair generators (``operators/dedup.py``, ``operators/similarity.py``)
emit *edges* — (doc_a, doc_b) candidates. Training-data dedup needs the
*components* of that graph: if A~B and B~C, then {A, B, C} is one
duplicate cluster and exactly one member survives. Transitivity is not
expressible as a fixed-depth join, so this is the engine's iterative
(non-SQL) operator, built on the alternating large-star / small-star
map-reduce algorithm (Kiveris et al., "Connected Components in MapReduce
and Beyond", SoCC 2014):

- large-star(v): connect every neighbor u > v to the minimum of
  N(v) ∪ {v};
- small-star(v): connect every neighbor u < v (and v itself) to the
  minimum of its smaller neighborhood.

Each round is two shuffles (groupBy min + join); the edge set converges
to stars rooted at each component's minimum id in O(log² n) rounds —
robust to long chains, unlike plain label propagation whose round count
is the graph *diameter*. Scale notes (100 TB): edges are two longs, so
every shuffle payload is 16 bytes/row; per-round ``localCheckpoint``
truncates the lineage so the plan does not grow with iterations (the
classic iterative-Spark failure mode); the per-node groupBy is the only
hot spot and its key is the node id (near-dup graphs are sparse —
degree-bounded by the band collision rate upstream).

Reference parity: the reference has no graph/clustering surface at all
(set difference at /root/reference/pyopenetl/operations.py:572 is its
only set-oriented op); this implements the BASELINE.json north-star
dedup extension end-to-end (pairs → clusters → canonical corpus).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_openetl_spark.operators.materialize import _arrow_relation, pin


def _canonical(edges: DataFrame) -> DataFrame:
    """Direct every edge large→small and drop self-loops/duplicates."""
    return (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor to min(N(v) ∪ {v})."""
    adj = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = (
        adj.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least(F.col("mn"), F.col("src")).alias("m"))
    )
    return (
        adj.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect every smaller neighbor (and v itself) to min(N⁻(v))."""
    d = _canonical(edges)  # src > dst
    mins = d.groupBy("src").agg(F.min("dst").alias("m"))
    nbrs = d.join(mins, "src").select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    selfs = mins.select("src", F.col("m").alias("dst"))
    return nbrs.unionAll(selfs).filter(F.col("src") != F.col("dst")).distinct()


def _driver_union_find(pdf, spark) -> DataFrame:
    """Exact components on the driver: union-find with union-by-min root
    and path compression over collected (src, dst) longs.

    Only called when the edge set is small (see ``driver_threshold``);
    one Arrow collect of two long columns, O(E α(E)) locally, labels
    back as a sized Arrow relation (joins against it broadcast). Returns
    (id, cluster_id) for every id appearing in ``pdf`` — self-loops
    contribute singletons, so the caller needs no follow-up node join."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    src, dst = pdf["src"].to_numpy(), pdf["dst"].to_numpy()
    for a, b in zip(src, dst):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            # attach the larger root under the smaller → root IS min id
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    members = np.unique(np.concatenate([src, dst])).astype(np.int64)
    return _arrow_relation(
        spark,
        id=members,
        cluster_id=np.array([find(int(m)) for m in members], dtype=np.int64),
    )


def connected_components(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    *,
    max_iter: int = 25,
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """Resolve candidate pairs into components: (id, cluster_id) for every
    id appearing in ``pairs``, where cluster_id = the component's min id.

    Two-level strategy, chosen by measured edge count:

    - **small graphs** (≤ ``driver_threshold`` edges, ≈32 MB of longs):
      exact union-find on the driver. Candidate-pair graphs are sparse
      by construction — LSH banding upstream bounds the collision rate —
      so even a 100 TB corpus usually lands here, and one collect beats
      ~5 rounds × ~6 shuffles of tiny-data job-scheduling latency.
    - **large graphs**: the alternating large-star/small-star loop,
      which converges in O(log² n) rounds with 16-byte shuffle rows —
      no single machine ever needs the edge set.

    The loop stops when the canonical edge set is stable (two cheap
    aggregates: count + order-insensitive hash-sum, not a full set
    compare) and raises if ``max_iter`` rounds do not converge.
    """
    # Materialize the candidate pairs ONCE: upstream pair generation
    # (shingle explode + LSH self-join) is the expensive part — the
    # checkpoint pins its output so neither the size probe nor the loop
    # (nor the nodes side, in the distributed path) recomputes it.
    # pin: 16-byte id pairs (delta-sized) — materialize.py policy
    raw = pin(pairs.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ))

    # Size probe + small-graph fast path in ONE job: collect up to
    # threshold+1 raw pairs straight off the checkpoint. Candidate-pair
    # graphs are sparse by construction (LSH banding bounds collision
    # rates), so even a 100 TB corpus usually lands here — and the whole
    # resolution is then checkpoint → one Arrow collect → union-find,
    # with no per-round job-scheduling latency at all.
    pdf = raw.limit(driver_threshold + 1).toPandas()
    if len(pdf) <= driver_threshold:
        return _driver_union_find(pdf, raw.sparkSession)

    # nodes from the *raw* pairs: a self-loop contributes a singleton
    nodes = (
        raw.select(F.col("src").alias("id"))
        .unionAll(raw.select(F.col("dst").alias("id")))
        .distinct()
    )

    def _sig(e: DataFrame) -> tuple[int, int]:
        # decimal sum: exact + order-independent + cannot overflow under ANSI
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    edges = pin(_canonical(raw))
    prev = _sig(edges)
    # right-size the loop: the edge set is tiny relative to the corpus
    # (16 bytes/row), so run the iterations at ~1M edges per task instead
    # of inheriting the corpus-sized partitioning — AQE coalesces the
    # reduce sides, this trims the map sides (narrow, no shuffle).
    want = max(1, min(edges.rdd.getNumPartitions(), prev[0] // 1_000_000 + 1))
    if want < edges.rdd.getNumPartitions():
        edges = edges.coalesce(want)
    for _ in range(max_iter):
        edges = pin(_small_star(_large_star(edges)))
        cur = _sig(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")

    # Converged: edges are stars (member -> root). Roots map to themselves.
    labels = edges.select(F.col("src").alias("id"), F.col("dst").alias("cluster_id"))
    return (
        nodes.join(labels, "id", "left")
        .select("id", F.coalesce("cluster_id", "id").alias("cluster_id"))
    )


def canonicalize_corpus(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    prefer_col: str | None = None,
) -> DataFrame:
    """The deduplicated corpus: drop every clustered doc except one
    canonical member per cluster; docs in no pair survive untouched.

    Canonical selection: the minimum id by default, or — with
    ``prefer_col`` — the member with the GREATEST value of that ``df``
    column (ties → min id): "keep the longest / highest-quality copy",
    the curation policy real pipelines want instead of id order.

    One anti-join against the (small) non-canonical member set: on the
    driver union-find path that set is a sized local relation, so the
    join is broadcast and the corpus is never shuffled (the large-graph
    loop path may still shuffle it by id).
    With ``prefer_col`` the duplicate graph is additionally broadcast
    against the corpus's (id, score) projection, so scoring adds a
    column-pruned scan, not a corpus shuffle.
    """
    from pyspark.sql.window import Window

    comps = connected_components(pairs, src_col, dst_col)
    if prefer_col is None:
        losers = comps.filter(F.col("id") != F.col("cluster_id")).select(
            F.col("id").alias(id_col)
        )
    else:
        scores = df.select(
            F.col(id_col).alias("id"), F.col(prefer_col).alias("__pref")
        )
        members = scores.join(F.broadcast(comps), "id")
        w = Window.partitionBy("cluster_id").orderBy(
            F.col("__pref").desc(), F.col("id")
        )
        losers = (
            members.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") > 1)
            .select(F.col("id").alias(id_col))
        )
    return df.join(losers, id_col, "left_anti")


def triangle_counts(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """Per-node triangle counts ``(id, triangles)`` over the undirected
    graph of ``pairs`` — the cluster-cohesion diagnostic for a near-dup
    pair graph (a node's triangles ≈ how mutually-confirmed its
    duplicate neighborhood is; band-collision false positives sit in
    triangle-free tendrils, true dup clusters are triangle-dense).
    Every node incident to an edge gets a row; nodes in no triangle
    report 0. Self-loops and duplicate/reversed edges are dropped.

    Algorithm (Suri & Vassilvitskii's degree-ordered scheme — the
    "curse of the last reducer" fix): orient every edge from the
    lexicographically smaller (degree, id) endpoint to the larger, so
    each triangle has exactly ONE node with out-edges to the other two.
    Wedges are generated only at that node (sum of C(out_deg, 2), and
    degree-ordering bounds out-degree by O(sqrt(m)) — a celebrity node
    of degree 10^6 generates no wedge explosion because its edges all
    point AWAY from followers toward it), then closed with one equi-join
    against the oriented edge set. Every shuffle row is ids+degrees —
    fixed width, never payloads; nothing is ever collected.
    """
    a, b = F.col(a_col), F.col(b_col)
    # Materialize the canonical edge set ONCE (16-byte id rows): it is
    # referenced by the degree count, the orientation join and the
    # wedge-closing join below, and without the checkpoint each of those
    # references re-runs the whole upstream pair generation — for the
    # d61 shape (exact jaccard pairs) that was FIVE recomputations of a
    # shingle-explode self-join, 272 parquet scans in one plan (r14
    # measurement). Same rationale as connected_components' checkpoint.
    e = pin(
        pairs.filter(a != b)
        .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .distinct()
    )
    # degrees are read three times (two orientation joins + the final
    # every-node left join); one node-count-sized checkpoint beats three
    # union+groupBy shuffles over the edge set
    deg = pin(
        e.select(F.col("a").alias("id"))
        .unionAll(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("db"))
    ed = e.join(da, "a").join(db, "b")
    fwd = F.struct(F.col("da"), F.col("a")) < F.struct(F.col("db"), F.col("b"))
    # oriented is read three times (two wedge sides + the closer);
    # checkpoint the 24-byte rows so the degree joins run once
    oriented = pin(ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("dst_deg"),
    ))
    o1 = oriented.select("src", F.col("dst").alias("v"), F.col("dst_deg").alias("dv"))
    o2 = oriented.select("src", F.col("dst").alias("w"), F.col("dst_deg").alias("dw"))
    wedges = o1.join(o2, "src").filter(
        F.struct(F.col("dv"), F.col("v")) < F.struct(F.col("dw"), F.col("w"))
    )
    closer = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tris = wedges.join(closer, ["v", "w"]).select(
        F.col("src").alias("u"), "v", "w"
    )
    per_node = (
        tris.select(F.explode(F.array("u", "v", "w")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.select("id")
        .join(per_node, "id", "left")
        .select("id", F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"))
    )
