"""Deduplication operators for large-scale training-data pipelines.

Every operator is a DataFrame dataflow that shuffles on *hash keys*,
never on raw text, so the heavy exchange payload is a few dozen bytes
per row whatever the document size:

- exact: md5 fingerprint of normalized text -> groupBy -> keep the min
  id (:func:`exact_dedup`; :func:`incremental_dedup` and its Bloom
  pre-filtered twin classify a new batch against a fingerprint store);
- MinHash-LSH: shingle -> min-wise signature -> packed band keys ->
  candidate pairs (:func:`minhash_lsh_candidates`;
  :func:`incremental_near_dedup` against a persisted band-key store);
- exact overlap of distinct shingle hashes: :func:`ngram_jaccard_pairs`
  (Jaccard) and :func:`containment_pairs` (containment);
- SimHash: 60-bit sign-aggregated token hash -> hamming-verified pairs
  (:func:`simhash_candidates`);
- edit distance of short titles within deletion-key blocks
  (:func:`blocked_fuzzy_pairs`);
- spans: :func:`cross_doc_repeated_windows`, :func:`paragraph_dedup`;
- embedding cosine near-dup: see ``operators/similarity.py``.

Every pairwise near-dup operator, here, in ``operators/multimodal.py``
and in ``operators/similarity.lsh_cosine_pairs``, finds candidates
under three rules, each written once in this module:

- **Pair rule** (:func:`_shared_key_pairs`): two docs that share a key
  form one candidate pair, smaller id first. It is a self-join on key
  equality and ``a.doc < b.doc``; the caller dedups, counts or
  verifies the pairs.
- **Hot-key cap** (:func:`_drop_hot_keys`): keys held by more than N
  docs are dropped before the join (the stop-shingle cap). A key held
  by M docs makes M²/2 pairs, so one boilerplate shingle or shared
  header chunk makes the join quadratic in corpus size; at scale set
  N. ``None`` keeps every key (exact). LSH band keys need no cap: band
  collision probability bounds their buckets.
- **Pigeonhole banding** (:func:`_hash_bands`): a ``bits``-wide hash
  splits into ``num_bands`` exact-match bands. Two hashes within
  hamming ``max_hamming < num_bands`` agree on at least one band, so
  the per-band join finds every such pair; ``max_hamming >=
  num_bands`` could miss pairs and raises ``ValueError``.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_openetl_spark.functions.text import fingerprint, text_shingles, token_hash60, tokens
from python_openetl_spark.operators.materialize import materialize, pin


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact (normalized) dedup groups: one row per distinct content,
    keeping the smallest id. Single shuffle on the 16-byte fingerprint."""
    from python_openetl_spark.session import scan_parallelism

    return (
        df.repartition(scan_parallelism(df), F.col(id_col))  # parallelize hashing
        .select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def exact_dedup_keep(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The deduplicated dataset itself (smallest-id winner per group).

    Assumes ``id_col`` is unique per row (the semi-join on keeper ids
    cannot separate rows that share an id); pre-assign ids otherwise."""
    keepers = exact_dedup(df, text_col, id_col).select(F.col("keeper_id").alias(id_col))
    return df.join(keepers, on=id_col, how="left_semi")


def _shingle_rows(df: DataFrame, text_col: str, id_col: str, shingle_n: int) -> DataFrame:
    """(doc, shingle) rows — one row per word n-gram occurrence.

    Two deliberate plan choices:
    - repartition by doc id first: a single-file parquet source yields
      1-2 scan partitions, which would serialize the tokenize/hash work
      no matter how many cores exist;
    - shingles via the single-pass regex extractor (``text_shingles``),
      not the array-transform expression: Catalyst inlines the
      tokenizer subtree into every lambda iteration (no CSE through
      higher-order functions), which re-tokenized each document once
      per shingle — measured ~10x slower. An earlier formulation
      (posexplode + window lead) fixed that but paid a per-doc sort;
      the regex pass needs neither the window nor the sort.

    Memory bound: the shingle array materializes per document before
    exploding, so peak executor memory per task is O(largest doc), same
    as the scan itself — fine for chunked training corpora (docs ≤ a
    few MB); split pathological documents upstream.
    """
    from python_openetl_spark.session import scan_parallelism

    return df.repartition(scan_parallelism(df), F.col(id_col)).select(
        F.col(id_col).alias("doc"),
        F.explode(text_shingles(F.col(text_col), shingle_n)).alias("shingle"),
    )


def _shared_key_pairs(
    keyed: DataFrame, keys: list[str], doc: str, carry: tuple[str, ...] = ()
) -> DataFrame:
    """The pair rule (module docstring): join ``keyed`` with itself
    where every ``keys`` column is equal and ``a.doc < b.doc``.

    Returns ``doc_a``, ``doc_b`` and, for each ``carry`` column ``c``,
    ``c_a`` and ``c_b``. A pair sharing several keys comes back once per
    shared key, so the caller dedups or counts."""
    a, b = keyed.alias("a"), keyed.alias("b")
    cond = reduce(
        and_,
        [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
        + [F.col(f"a.{doc}") < F.col(f"b.{doc}")],
    )
    return a.join(b, cond).select(
        F.col(f"a.{doc}").alias("doc_a"),
        F.col(f"b.{doc}").alias("doc_b"),
        *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in carry for s in "ab"],
    )


def _drop_hot_keys(keyed: DataFrame, key: str, max_docs: int | None) -> DataFrame:
    """The hot-key cap (module docstring): drop every row whose ``key``
    is held by more than ``max_docs`` rows; ``None`` returns ``keyed``.

    An inner join on the distinct kept keys, not a left-semi join: AQE
    then reuses the cap's exchanges on both sides of the pair join
    (d41 runs 5 Spark jobs, 6 with a left-semi join)."""
    if max_docs is None:
        return keyed
    rare = (
        keyed.groupBy(key)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") <= max_docs)
        .select(key)
    )
    return keyed.join(rare, key)


def _hash_bands(
    hashed: DataFrame, hash_col: str, *, bits: int, num_bands: int, max_hamming: int
) -> DataFrame:
    """Pigeonhole banding (module docstring): ``hashed`` with ``band``
    and ``key`` added, one row per band, where ``key`` is the band's
    ``bits // num_bands`` bits of ``hash_col``."""
    if max_hamming >= num_bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs more than {max_hamming} bands, "
            f"got num_bands={num_bands}: a pair can then differ in every "
            "band and be missed"
        )
    band_bits = bits // num_bands
    # a 64-bit band's mask is every bit of a long: -1, not 2^64 - 1
    mask = F.lit(2**band_bits - 1 if band_bits < 64 else -1)
    bands = F.array(*[
        F.struct(
            F.lit(i).alias("band"),
            F.shiftright(F.col(hash_col), i * band_bits).bitwiseAND(mask).alias("key"),
        )
        for i in range(num_bands)
    ])
    return hashed.select("*", F.explode(bands).alias("__bk")).select(
        *hashed.columns, "__bk.band", "__bk.key"
    )


#: Mersenne prime 2^31-1: universal-hash modulus. Products a*h stay
#: below 2^62, so the whole MinHash family is exact 64-bit integer
#: arithmetic in BOTH engines (Spark longs, DuckDB BIGINT).
MINHASH_P = 2_147_483_647


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic Carter-Wegman coefficients (a_k, b_k) for the
    seeded permutation family h_k(x) = (a_k·x + b_k) mod P."""
    return [
        ((506_952_114 * (k + 1) + 12_345) % MINHASH_P, (40_503 * (k + 1) + 9_876) % MINHASH_P)
        for k in range(num_hashes)
    ]


def minhash_band_keys(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
    num_hashes: int = 16,
    num_bands: int = 4,
) -> DataFrame:
    """Per-document LSH band keys ``(doc, band, k1, k2)`` — the compact
    near-dup index row (two packed base-P longs per band). This IS the
    persisted "near-dup store" for incremental ingest: a corpus's band
    keys are a few dozen bytes per document regardless of text size.
    """
    rows_per_band = num_hashes // num_bands
    # each packed key folds rows_per_band/2 base-P digits (P ≈ 2^31)
    # into one long: 2 digits < 2^62 is the 64-bit ceiling. More rows
    # per band would overflow silently — use more bands instead.
    if rows_per_band % 2 or not 0 < rows_per_band <= 4:
        raise ValueError(
            f"band packing needs an even rows_per_band <= 4, got "
            f"num_hashes // num_bands = {rows_per_band}"
        )
    sh_rows = _shingle_rows(df, text_col, id_col, shingle_n)
    h = (token_hash60(F.col("shingle")) % MINHASH_P).alias("h")
    hashed = sh_rows.select("doc", h)
    mins = [
        F.min((F.lit(a_) * F.col("h") + F.lit(b_)) % MINHASH_P).alias(f"h{k}")
        for k, (a_, b_) in enumerate(minhash_coeffs(num_hashes))
    ]
    sigs_wide = hashed.groupBy("doc").agg(*mins)
    half = rows_per_band // 2

    def _pack(cols: list[str]) -> F.Column:
        acc = F.col(cols[0])
        for c in cols[1:]:
            acc = acc * MINHASH_P + F.col(c)
        return acc

    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            _pack([f"h{b * rows_per_band + r}" for r in range(half)]).alias("k1"),
            _pack([f"h{b * rows_per_band + r}" for r in range(half, rows_per_band)]).alias("k2"),
        )
        for b in range(num_bands)
    ]
    return sigs_wide.select(
        "doc", F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc", "bk.band", "bk.k1", "bk.k2")


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
    num_hashes: int = 16,
    num_bands: int = 4,
) -> DataFrame:
    """Near-dup candidate pairs (a < b) via MinHash-LSH banding.

    shingle → one 60-bit base hash per shingle → 16 universal-hash
    permutations (integer multiply-mod, not 16 separate md5 calls —
    measured ~2x faster; Carter-Wegman is the standard min-wise family)
    → min per permutation → 4 bands of 4 rows packed into two 62-bit
    integer keys → self-join per (band, k1, k2). Probability a pair
    with Jaccard j collides in ≥ 1 band: 1-(1-j^4)^4 (the S-curve).
    The join key is (band, long, long) — small and uniform, so the
    shuffle is balanced even when documents are skewed in size.

    Formulation notes: explode-then-aggregate (one base hash per
    (doc, shingle) row, min combined map-side). The array formulation
    (minhash_signature + lsh_band_keys) is semantically identical but
    Catalyst re-inlines the signature expression into every band key
    (no CSE across higher-order functions) — measured 24x slower.
    """
    exploded = minhash_band_keys(
        df,
        text_col,
        id_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        num_bands=num_bands,
    )
    # self-join: materialize so the signature pass runs once per corpus
    # scan worth paying for (size-adaptive — see operators/materialize)
    exploded = materialize(exploded)
    return _shared_key_pairs(exploded, ["band", "k1", "k2"], "doc").distinct()


def _shingle_overlap(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int, max_shingle_docs: int | None
) -> DataFrame:
    """The shared step of :func:`ngram_jaccard_pairs` and
    :func:`containment_pairs`: ``(doc_a, doc_b, common, n_a, n_b)`` per
    pair sharing a distinct shingle hash, with the set sizes ``n_a``,
    ``n_b`` counted before the hot-key cap drops shingles held by more
    than ``max_shingle_docs`` docs."""
    # the 16-byte (doc, h) rows feed the size count and BOTH sides of
    # the co-occurrence self-join, and broadcast planning defeats
    # exchange reuse — each reference re-runs the scan+tokenize+shingle+
    # md5+distinct chain (r14 plan audit). Size-adaptive materialization
    # pins them once when the corpus is big enough to care.
    sh = materialize(
        _shingle_rows(df, text_col, id_col, shingle_n)
        .select("doc", token_hash60(F.col("shingle")).alias("h"))
        .distinct()
    )
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    if max_shingle_docs is not None:
        sh = materialize(_drop_hot_keys(sh, "h", max_shingle_docs))
    common = (
        _shared_key_pairs(sh, ["h"], "doc")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return common.join(sa, "doc_a").join(sb, "doc_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_docs: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs (a < b, jaccard ≥ threshold).

    distinct-shingle explode → co-occurrence self-join → |A∩B| counts →
    jaccard = common / (|A| + |B| - common). ``max_shingle_docs`` drops
    shingles shared by more than N docs before the join (stop-shingle
    cap — bounds the quadratic bucket blowup at scale; None = exact).

    The distinct/join/groupBy chain runs on the shingles' 60-bit md5
    hashes, not the strings — every exchange carries (long, long) rows
    instead of ~30-byte text (the same fixed-width-shuffle-key rule as
    the LSH operators), and the DuckDB oracle reproduces the identical
    hash so the result stays value-checkable. A 60-bit collision inside
    one document would need ~2^30 distinct shingles per doc to matter.
    """
    return (
        _shingle_overlap(df, text_col, id_col, shingle_n, max_shingle_docs)
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_shingle_docs: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs by n-gram containment:
    ``containment(A in B) = |A∩B| / |A|`` — the quote/subset detector.

    Symmetric Jaccard (and the MinHash family that approximates it)
    goes blind exactly where quoting lives: a short document wholly
    contained in a long one has Jaccard ≈ |A|/|B| ≈ 0 but containment
    1.0. This operator emits ``(inner_doc, outer_doc, containment)``
    with containment ≥ threshold, computed over distinct-shingle
    60-bit hashes — the same single co-occurrence self-join dataflow
    as :func:`ngram_jaccard_pairs` (fixed-width shuffle keys, optional
    stop-shingle cap), only the final formula and the (inner, outer)
    orientation differ: each unordered co-occurrence pair is scored
    BOTH ways and a row is emitted per direction that clears the
    threshold (A-in-B and B-in-A are different facts).
    """
    scored = _shingle_overlap(df, text_col, id_col, shingle_n, max_shingle_docs)
    fwd = scored.select(
        F.col("doc_a").alias("inner_doc"),
        F.col("doc_b").alias("outer_doc"),
        (F.col("common").cast("double") / F.col("n_a").cast("double")).alias(
            "containment"
        ),
    )
    rev = scored.select(
        F.col("doc_b").alias("inner_doc"),
        F.col("doc_a").alias("outer_doc"),
        (F.col("common").cast("double") / F.col("n_b").cast("double")).alias(
            "containment"
        ),
    )
    return fwd.unionByName(rev).filter(F.col("containment") >= threshold)


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 60) -> DataFrame:
    """Per-document 60-bit SimHash (sign-aggregated token hashes).

    explode tokens → 60-bit hash per token → per-bit ±1 majority vote →
    reassemble integer. One shuffle (groupBy doc); the 60 per-bit sums
    are map-side-combined columns, not rows.
    """
    from python_openetl_spark.session import scan_parallelism

    tok = df.repartition(scan_parallelism(df), F.col(id_col)).select(
        F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("tok")
    )
    h = token_hash60(F.col("tok"))
    votes = [
        F.sum(
            F.when(h.bitwiseAND(F.lit(1 << j)) != 0, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(bits)
    ]
    agg = tok.groupBy("doc").agg(*votes)
    sim = None
    for j in range(bits):
        bit = F.when(F.col(f"s{j}") > 0, F.lit(2**j).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = bit if sim is None else sim + bit
    return agg.select(F.col("doc").alias(id_col), sim.alias("simhash"))


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_hamming: int = 3,
    num_bands: int = 4,
    bits: int = 60,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming.

    Pigeonhole banding (module docstring): 60 bits in 4 bands of 15
    find every pair within hamming 3 with no recall loss, then
    ``bit_count(xor)`` verifies.
    """
    banded = _hash_bands(
        simhash(df, text_col, id_col, bits), "simhash",
        bits=bits, num_bands=num_bands, max_hamming=max_hamming,
    )
    # the banded frame self-joins; pin it so the 60-column per-bit
    # majority-vote aggregate runs once, not once per side (delta-sized:
    # (doc, band, key) rows — materialize.py policy)
    banded = pin(banded)
    return (
        _shared_key_pairs(banded, ["band", "key"], id_col, carry=("simhash",))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def incremental_dedup(
    new_docs: DataFrame,
    seen_fps: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Classify a NEW batch of documents against an existing fingerprint
    store — the growing-corpus shape: the historical corpus is never
    re-read, only its compact fingerprint table.

    Returns ``(id_col, fp, status)`` for every batch row, with status
    ``'dup_of_store'`` (fingerprint already in ``seen_fps``),
    ``'dup_in_batch'`` (first seen in this batch under a smaller id), or
    ``'new'``. The updated store is
    ``seen_fps ∪ (status = 'new' rows).select("fp")``.

    ``seen_fps`` must have a unique ``fp`` column (md5 hex of normalized
    text, i.e. :func:`exact_dedup`'s key — one row per distinct content).

    Plan shape for 100 TB: the batch is fingerprinted in its scan
    projection, shuffled once on the 16-byte key for the batch-min agg,
    then hash-joined against the store on the same key — with the store
    bucketed by ``fp``, only the (small) daily batch ever moves.
    """
    return _classify(_batch_firsts(new_docs, text_col, id_col), id_col, seen_fps)


def _batch_firsts(new_docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Each batch row's ``(id_col, fp)`` with ``__first_id``, the
    smallest batch id holding the same fingerprint."""
    # NULL text → NULL fingerprint. groupBy already treats NULL as one
    # group (as SQL GROUP BY does), but a plain equi-join would drop
    # those rows (NULL != NULL) — so both joins are null-safe: all
    # NULL-content rows classify as duplicates of each other, matching
    # exact_dedup's grouping semantics.
    fp = new_docs.select(F.col(id_col), fingerprint(text_col).alias("fp"))
    first = fp.groupBy("fp").agg(F.min(id_col).alias("__first_id")).withColumnRenamed(
        "fp", "__fp_f"
    )
    return fp.join(first, F.col("fp").eqNullSafe(F.col("__fp_f")))


def _classify(firsts: DataFrame, id_col: str, seen_fps: DataFrame | None) -> DataFrame:
    """``(id_col, fp, status)`` for :func:`_batch_firsts` rows:
    ``dup_of_store`` when ``seen_fps`` holds the fingerprint,
    ``dup_in_batch`` when a smaller batch id does, else ``new``.
    ``seen_fps=None`` skips the store lookup."""
    status = F.when(F.col(id_col) != F.col("__first_id"), F.lit("dup_in_batch")).otherwise(
        F.lit("new")
    )
    if seen_fps is not None:
        seen = seen_fps.select(F.col("fp").alias("__fp_s"), F.lit(True).alias("__seen"))
        firsts = firsts.join(seen, F.col("fp").eqNullSafe(F.col("__fp_s")), "left")
        status = F.when(F.col("__seen"), F.lit("dup_of_store")).otherwise(status)
    return firsts.select(id_col, "fp", status.alias("status"))


def incremental_dedup_bloom(
    new_docs: DataFrame,
    seen_fps: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_bits: int = 1 << 23,
    num_probes: int = 5,
) -> DataFrame:
    """:func:`incremental_dedup` with a Bloom pre-filter on the store —
    identical classification, different scan economics.

    The filter is built distributively with public APIs only (Spark 4
    does not register ``bloom_filter_agg`` in SQL): each store partition
    sets bits in a local numpy bitmap from two 60-bit md5-derived hash
    columns (computed JVM-side — the same ``conv(substring(fp))`` device
    as ``token_hash60``), the per-partition bitmaps OR-reduce on the
    driver (``num_bits/8`` bytes each — 1 MiB at the default, bounded
    and partition-count-linear), and the result broadcasts to the batch
    scan, where an Arrow-batched kernel tests ``num_probes``
    double-hashed positions per row.

    Candidates (Bloom hits, which include false positives) take the
    exact null-safe store join that rejects the false positives;
    definite-news skip the store entirely — Bloom filters have NO false
    negatives, so the split is lossless and the output is
    row-identical to :func:`incremental_dedup`. At 100 TB the store
    join's probe side shrinks from the whole daily batch to the
    fraction the filter cannot rule out. NULL text hashes to NULL and
    is forced into the candidate branch so the null-safe join decides
    it.
    """
    # probe positions range over [0, num_bits); the bitmap allocates
    # num_bits // 8 bytes — a non-multiple of 8 would index past the end
    if num_bits <= 0 or num_bits % 8 != 0:
        raise ValueError(f"num_bits must be a positive multiple of 8, got {num_bits}")
    if num_probes <= 0:
        raise ValueError(f"num_probes must be positive, got {num_probes}")
    h1 = F.conv(F.substring(F.col("fp"), 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(F.col("fp"), 16, 15), 16, 10).cast("long")

    def _positions(a: "np.ndarray", b: "np.ndarray") -> "np.ndarray":
        # double hashing: pos_i = (h1 + i*h2) mod num_bits, i in [0, k)
        i = np.arange(num_probes, dtype=np.uint64)
        return (a[:, None] + i[None, :] * b[:, None]) % np.uint64(num_bits)

    def build(batches):
        bits = np.zeros(num_bits // 8, dtype=np.uint8)
        for pdf in batches:
            a = pdf["h1"].to_numpy(dtype="uint64")
            b = pdf["h2"].to_numpy(dtype="uint64")
            pos = _positions(a, b).reshape(-1)
            np.bitwise_or.at(bits, (pos >> np.uint64(3)).astype(np.int64),
                             (1 << (pos & np.uint64(7))).astype(np.uint8))
        yield pd.DataFrame({"bitmap": [bits.tobytes()]})

    parts = (
        seen_fps.filter(F.col("fp").isNotNull())
        .select(h1.alias("h1"), h2.alias("h2"))
        .mapInPandas(build, schema="bitmap binary")
        .collect()
    )
    bitmap = np.zeros(num_bits // 8, dtype=np.uint8)
    for r in parts:
        bitmap |= np.frombuffer(r["bitmap"], dtype=np.uint8)

    @F.pandas_udf("boolean")
    def might_contain(a: pd.Series, b: pd.Series) -> pd.Series:
        null = a.isna() | b.isna()
        av = a.fillna(0).to_numpy(dtype="uint64")
        bv = b.fillna(0).to_numpy(dtype="uint64")
        pos = _positions(av, bv)
        hit = (
            (bitmap[(pos >> np.uint64(3)).astype(np.int64)]
             >> (pos & np.uint64(7)).astype(np.uint8)) & 1
        ).all(axis=1)
        return pd.Series(hit | null.to_numpy())

    pre = _batch_firsts(new_docs, text_col, id_col).withColumn(
        "__cand", might_contain(h1, h2)
    )
    cand = _classify(pre.filter(F.col("__cand")), id_col, seen_fps)
    return cand.unionByName(_classify(pre.filter(~F.col("__cand")), id_col, None))


def incremental_near_dedup(
    new_docs: DataFrame,
    band_store: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
    num_hashes: int = 16,
    num_bands: int = 4,
) -> DataFrame:
    """Near-dup classification of a NEW batch against an existing
    corpus's LSH band-key store (:func:`minhash_band_keys` rows) — the
    nightly-ingest shape for NEAR duplicates: the historical corpus is
    never re-read, only its compact band index.

    Returns ``(id_col, status)`` per batch row: ``'near_dup_of_store'``
    (>= 1 band key collides with the store), ``'near_dup_in_batch'``
    (no store hit, but a smaller-id batch doc shares a band — the
    direct pairwise rule, same min-id-wins convention as
    :func:`incremental_dedup`), or ``'new'``. The updated store is
    ``band_store UNION band keys of the accepted rows``.

    Classification is by band collision (the LSH candidate test, d06's
    semantics) — exact-similarity verification of flagged pairs can
    follow via :func:`ngram_jaccard_pairs` on the tiny flagged subset.
    Plan shape for 100 TB: batch band keys shuffle once on the packed
    (band, k1, k2) key for the store join (store bucketed by the same
    key -> only the batch moves), and once for the in-batch self-join;
    both sides of every exchange are a few longs per row.
    """
    keys = minhash_band_keys(
        new_docs,
        text_col,
        id_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        num_bands=num_bands,
    )
    on = ["band", "k1", "k2"]
    store_hits = (
        keys.join(band_store.select(*on).distinct(), on, "left_semi")
        .select(F.col("doc"))
        .distinct()
        .withColumn("__store_hit", F.lit(True))
    )
    batch_hits = (
        _shared_key_pairs(keys, on, "doc")
        .select(F.col("doc_b").alias("doc"))
        .distinct()
        .withColumn("__batch_hit", F.lit(True))
    )
    return (
        new_docs.select(F.col(id_col))
        .join(store_hits.withColumnRenamed("doc", id_col), id_col, "left")
        .join(batch_hits.withColumnRenamed("doc", id_col), id_col, "left")
        .select(
            id_col,
            F.when(F.col("__store_hit"), F.lit("near_dup_of_store"))
            .when(F.col("__batch_hit"), F.lit("near_dup_in_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


def blocked_fuzzy_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    title_tokens: int = 5,
    max_edit: int = 2,
    max_block: int = 200,
) -> DataFrame:
    """Typo-level near-dup pairs: Levenshtein distance over a short
    "title" (the first ``title_tokens`` tokens) within blocking keys —
    the SEVENTH dedup family, catching single-character edits that
    every shingle/hash family misses (one typo flips most of a short
    text's 3-gram shingles, so Jaccard/MinHash/SimHash all score it
    far apart; edit distance scores it 1).

    Blocking is the DELETION NEIGHBORHOOD over tokens (the FastSS idea
    lifted to token granularity): each title emits one key per token
    position — the title with that token removed — so two titles whose
    edits are confined to a single token (the typo case) ALWAYS share
    the key that deletes the corrupted token, with no dependence on
    token frequency. That independence is the point: frequency-based
    blocking (first-token, rarest-token) degenerates to quadratic
    buckets whenever the vocabulary is small or skewed — the sf0.1
    fixture corpus has a 30-word vocabulary and made every
    token-blocked bucket ~750 titles (measured 5.6M candidate pairs,
    20s); deletion keys need 4 of 5 tokens equal IN ORDER, collapsing
    candidates to genuine near-matches (~10³ pairs, sub-second).

    Boilerplate armor: a deletion key shared by more than
    ``max_block`` titles ("untitled document page N" corpora) is
    dropped by the hot-key cap (module docstring), bounding every
    bucket join at the cost of recall only inside pathological
    boilerplate clusters.

    The verify is the exact JVM ``levenshtein`` with a
    length-difference pre-filter (|len(a) - len(b)| > max_edit can
    never pass — skips the DP for most pairs). Multi-token edits can
    be missed by design (the single-token-typo recall contract);
    ``dist <= max_edit`` is still exact for every emitted pair.
    Returns ``(id_a, id_b, edit_distance)``, id_a < id_b,
    distance <= max_edit.
    """
    title = F.array_join(F.slice(tokens(text_col), 1, title_tokens), " ")
    base = (
        df.select(F.col(id_col).alias("id"), title.alias("title"))
        .filter(F.col("title").isNotNull() & (F.col("title") != ""))
        .withColumn("__toks", F.split(F.col("title"), " "))
    )
    n = F.size(F.col("__toks"))
    del_keys = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(
            F.concat(
                F.slice(F.col("__toks"), F.lit(1), i - F.lit(1)),
                F.slice(F.col("__toks"), i + F.lit(1), n),
            ),
            " ",
        ),
    )
    # deletion-key rows feed the block-size count AND both self-join
    # sides; materialize once (multi-reference rule, r14)
    keyed = materialize(base.select(
        "id", "title", F.explode(F.array_distinct(del_keys)).alias("key")
    ))
    keyed = materialize(_drop_hot_keys(keyed, "key", max_block))
    return (
        _shared_key_pairs(keyed, ["key"], "id", carry=("title",))
        # cheap pre-filter before the DP: edit distance >= |len diff|
        .filter(
            F.abs(F.length("title_a") - F.length("title_b")) <= F.lit(max_edit)
        )
        .select(
            F.col("doc_a").alias("id_a"),
            F.col("doc_b").alias("id_b"),
            F.levenshtein(F.col("title_a"), F.col("title_b")).alias("edit_distance"),
        )
        .filter(F.col("edit_distance") <= max_edit)
        .dropDuplicates(["id_a", "id_b"])
    )


def cross_doc_repeated_windows(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    window: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact cross-document substring detection at token-window
    granularity (the "dedup repeated spans across the corpus" primitive
    of Lee et al. 2022, public algorithm): per document, every
    ``window``-token sliding window is keyed by the md5 of its joined
    tokens; a window is *repeated* when it occurs in at least
    ``min_docs`` DISTINCT documents. Returns per-document
    ``(id, n_windows, n_repeated, repeat_frac)`` — the span-level
    duplication signal quality filters threshold on.

    Scale shape: windows explode the corpus by ~1 row per token (each
    row ``window`` tokens re-joined — the engine-standard trade of
    recompute-per-window vs materializing token arrays); the repeated
    set comes from one map-side-combined groupBy on the window key, and
    rejoining it to the window stream is a key-partitioned join that
    AQE converts to broadcast when the repeated set is small (the usual
    case: boilerplate is rare relative to the corpus). No driver-side
    state; md5 keys make the result engine-reproducible (and collisions
    negligible at 128 bits).
    """
    from python_openetl_spark.functions.text import tokens

    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    tk = docs.select(F.col(id_col), tokens(text_col).alias("toks"))
    idx = F.when(
        F.size("toks") >= window,
        F.sequence(F.lit(1), F.size("toks") - window + 1),
    ).otherwise(F.array().cast("array<int>"))
    # the window stream feeds the repeated-set aggregate AND the rejoin;
    # materialize the (id, 16-byte md5) rows once instead of re-running
    # the per-token window explode per reference (r14)
    wins = materialize(tk.select(
        id_col,
        F.explode(idx).alias("pos"),
        "toks",
    ).select(
        id_col,
        F.md5(F.array_join(F.slice("toks", F.col("pos"), window), " ")).alias("h"),
    ))
    repeated = (
        wins.groupBy("h")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("h")
    )
    flagged = wins.join(repeated.withColumn("__rep", F.lit(1)), "h", "left")
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce(F.col("__rep"), F.lit(0))).alias("n_repeated"),
        )
        .select(
            id_col,
            "n_windows",
            F.col("n_repeated").cast("long").alias("n_repeated"),
            F.round(F.col("n_repeated") / F.col("n_windows"), 6).alias("repeat_frac"),
        )
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    para_tokens: int = 12,
) -> DataFrame:
    """Cross-document PARAGRAPH-level dedup with document reconstruction
    — the CCNet device: boilerplate (headers, footers, license blocks)
    repeats across millions of pages while the surrounding prose is
    unique, so deduplicating whole documents misses it and deduplicating
    at paragraph granularity removes it. Paragraph unit here: contiguous
    non-overlapping ``para_tokens``-token windows (the fixture corpus
    has no newline structure; a corpus with real paragraphs would swap
    the splitter, the dataflow is identical). The globally-first
    occurrence of each distinct paragraph wins (min ``(doc_id, idx)`` —
    the exact-dedup min-id convention), every later occurrence is
    dropped, and each document's retained text is reassembled in
    original paragraph order.

    Scale shape: the dedup DECISION shuffles ids only — (doc_id, idx,
    16-byte md5) rows through a ``groupBy(fp).agg(min(struct(doc_id,
    idx)))``, which PARTIAL-aggregates map-side (r9 verdict #3: the
    previous ``row_number`` window over ``fp`` sorted each whole
    fingerprint group in one task, so a universal boilerplate
    paragraph became a corpus-sized single-partition sort at 100×;
    min(struct) reduces every hot group inside the scan and only one
    (fp, winner) row per distinct paragraph crosses the exchange).
    The kept occurrences ARE the winners, so no join back onto the
    occurrence set is needed; per-doc kept-index lists (ints) shuffle
    once more, and document TEXT crosses the wire exactly once, in the
    final doc_id-keyed join that reassembles it. Documents with zero
    tokens (empty/NULL text) emit no row — there is nothing to
    deduplicate or train on. A document whose every paragraph lost
    (pure boilerplate) still emits a row: ``n_kept = 0`` and
    ``text_dedup = ''``.

    Returns ``(id_col, n_paras, n_kept, text_dedup)``.
    """
    P = para_tokens
    if P <= 0:
        raise ValueError(f"para_tokens must be positive, got {P}")
    tk = (
        df.select(F.col(id_col), tokens(text_col).alias("__tk"))
        .filter(F.size("__tk") >= 1)
    )
    n_paras = F.expr(f"CAST(ceil(size(__tk) / {P}.0) AS INT)")
    idxs = F.sequence(F.lit(0), n_paras - F.lit(1))
    para = lambda i: F.array_join(  # noqa: E731
        F.slice(F.col("__tk"), i * F.lit(P) + F.lit(1), F.lit(P)), " "
    )
    # (id, idx, 32-char md5) occurrence rows are read twice (winner
    # aggregation + per-doc paragraph counts); checkpoint them so the
    # corpus is tokenized/hashed once for the decision — the final
    # text-reassembly join below re-reads only ``tk``
    g = materialize(tk.select(
        id_col, F.explode(idxs).alias("idx"), "__tk"
    ).select(
        id_col, "idx", F.md5(para(F.col("idx"))).alias("fp")
    ))
    winners = g.groupBy("fp").agg(
        F.min(F.struct(F.col(id_col), F.col("idx"))).alias("__w")
    )
    kept = winners.select(
        F.col(f"__w.{id_col}").alias(id_col), F.col("__w.idx").alias("idx")
    )
    per_doc = (
        g.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_paras"))
        .join(
            kept.groupBy(id_col).agg(
                F.count(F.lit(1)).alias("__nk"),
                F.sort_array(F.collect_list("idx")).alias("__ki"),
            ),
            id_col,
            "left",
        )
        .select(
            id_col,
            "n_paras",
            F.coalesce(F.col("__nk"), F.lit(0)).alias("n_kept"),
            F.coalesce(F.col("__ki"), F.array().cast("array<int>")).alias(
                "__kept_idx"
            ),
        )
    )
    return tk.join(per_doc, id_col).select(
        id_col,
        "n_paras",
        "n_kept",
        F.array_join(
            F.transform(F.col("__kept_idx"), para), " "
        ).alias("text_dedup"),
    )
