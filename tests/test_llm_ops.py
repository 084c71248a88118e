"""Semantic tests for the LLM-data operators beyond the oracle gate:
near-dup recall on planted twins, arrow-vs-expression top-k agreement,
LSH recall vs exact pairs, multimodal stub plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from python_openetl_spark.io import load_table
from python_openetl_spark.operators import dedup, multimodal, similarity
from python_openetl_spark.workload.llm import _QUERY_IDS, _docs_with_twins
from tests.conftest import SF_DIR


@pytest.mark.parametrize("n", [2, 3, 5])
def test_text_shingles_equals_token_shingles(spark, n):
    """text_shingles (single regex pass) must be element-equal to the
    canonical shingles(tokens(text), n) on the real corpus, including
    docs shorter than n tokens (empty array)."""
    from python_openetl_spark.functions.text import shingles, text_shingles, tokens

    docs = load_table(spark, SF_DIR, "documents")
    bad = (
        docs.select(
            (shingles(tokens(F.col("text")), n) == text_shingles(F.col("text"), n)).alias("eq")
        )
        .filter(~F.col("eq"))
        .count()
    )
    assert bad == 0


def test_exact_dedup_collapses_planted_duplicates(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").limit(50)
    dup = docs.select((F.col("doc_id") + 500_000).alias("doc_id"), "text")
    groups = dedup.exact_dedup(docs.unionByName(dup), "text", "doc_id")
    assert groups.filter(F.col("n_copies") == 2).count() == 50
    kept = dedup.exact_dedup_keep(docs.unionByName(dup), "text", "doc_id")
    assert kept.count() == 50
    assert kept.filter(F.col("doc_id") >= 500_000).count() == 0  # min-id wins


def test_minhash_lsh_finds_twins(spark):
    docs = _docs_with_twins(spark, SF_DIR)
    pairs = dedup.minhash_lsh_candidates(docs).toPandas()
    twin_pairs = {(a, b) for a, b in zip(pairs.doc_a, pairs.doc_b) if b == a + 100_000}
    n_docs = docs.count() // 2
    # twins share nearly all shingles → banding should catch almost all
    assert len(twin_pairs) >= 0.9 * n_docs


def test_ngram_jaccard_twin_scores(spark):
    docs = _docs_with_twins(spark, SF_DIR)
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5).toPandas()
    twins = pairs[pairs.doc_b == pairs.doc_a + 100_000]
    assert len(twins) > 400  # most of the 500 docs
    assert (twins.jaccard > 0.5).all()


def test_simhash_twins_close(spark):
    docs = _docs_with_twins(spark, SF_DIR)
    pairs = dedup.simhash_candidates(docs, max_hamming=3).toPandas()
    assert ((pairs.doc_b - pairs.doc_a) == 100_000).any()
    assert (pairs.hamming <= 3).all()


def test_arrow_topk_matches_expression_topk(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(emb, queries, k=5).toPandas()
    arrow = similarity.cosine_topk_arrow(emb, queries.toPandas(), k=5).toPandas()
    key = lambda p: sorted(zip(p.query_id, p["rank"], p.vec_id))
    assert key(exact) == key(arrow)
    # cosine values agree to float64 reduction-order tolerance
    e = exact.sort_values(["query_id", "rank"]).cos_sim.to_numpy()
    a = arrow.sort_values(["query_id", "rank"]).cos_sim.to_numpy()
    assert (abs(e - a) < 1e-9).all()


def test_lsh_pairs_subset_of_exact(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    exact = similarity.cosine_pairs_exact(emb, threshold=0.4).toPandas()
    approx = similarity.lsh_cosine_pairs(
        emb, threshold=0.4, num_planes=3, num_tables=8
    ).toPandas()
    exact_set = set(zip(exact.id_a, exact.id_b))
    approx_set = set(zip(approx.id_a, approx.id_b))
    assert approx_set <= exact_set  # no false positives (cosine verified)
    if exact_set:
        # p=1-acos(0.4)/pi≈0.63 → table hit 0.25 → 8 tables ≈ 0.9 expected
        assert len(approx_set) / len(exact_set) >= 0.5


def test_d14_lsh_recall_total(spark):
    """d14 relies on the LSH pair generator finding EVERY exact pair on
    the fixture corpus (deterministic seeded planes), so its exact-pairs
    SQL oracle stays green. Pin that recall==1.0 at the d14 settings."""
    emb = load_table(spark, SF_DIR, "embeddings")
    exact = similarity.cosine_pairs_exact(emb, threshold=0.45).toPandas()
    approx = similarity.lsh_cosine_pairs(
        emb, threshold=0.45, num_planes=3, num_tables=20
    ).toPandas()
    assert set(zip(exact.id_a, exact.id_b)) == set(zip(approx.id_a, approx.id_b))


def test_cosine_pairs_exact_size_guard(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    with pytest.raises(ValueError, match="O\\(n²\\)"):
        similarity.cosine_pairs_exact(emb, threshold=0.45, max_rows=10)
    # max_rows=None forces the exact path regardless of size
    assert similarity.cosine_pairs_exact(emb, threshold=0.99, max_rows=None).count() >= 0


def test_ivf_topk_recall_vs_exact(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(emb, queries, k=5).toPandas()
    approx = similarity.ivf_topk(emb, queries.toPandas(), k=5, nlist=16, nprobe=4).toPandas()
    # per-query recall@5 vs the exact result
    recalls = []
    for qid in _QUERY_IDS:
        e = set(exact[exact.query_id == qid].vec_id)
        a = set(approx[approx.query_id == qid].vec_id)
        recalls.append(len(e & a) / len(e))
    assert sum(recalls) / len(recalls) >= 0.5, recalls
    # probing all cells makes it exact
    full = similarity.ivf_topk(emb, queries.toPandas(), k=5, nlist=16, nprobe=16).toPandas()
    for qid in _QUERY_IDS:
        assert set(full[full.query_id == qid].vec_id) == set(exact[exact.query_id == qid].vec_id)


def test_ivf_topk_zero_query_scores_zero(spark):
    """An all-zero query picks cells and scores with the clamped cosine
    (0.0) instead of failing with DIVIDE_BY_ZERO under ANSI."""
    import pandas as pd

    emb = load_table(spark, SF_DIR, "embeddings")
    dim = len(emb.first()["embedding"])
    q = pd.DataFrame({"query_id": [-1], "embedding": [[0.0] * dim]})
    rows = similarity.ivf_topk(emb, q, k=3, nlist=8, nprobe=2).collect()
    assert len(rows) == 3
    assert [r.cos_sim for r in rows] == [0.0, 0.0, 0.0]
    assert [r["rank"] for r in rows] == [1, 2, 3]


def test_multimodal_decode_stub(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(20)
    payloads = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    with pytest.raises(NotImplementedError):
        multimodal.decode_images(payloads).collect()
    decoded = multimodal.decode_images(payloads, fake=True)
    rows = decoded.collect()
    assert len(rows) == 20
    assert all(64 <= r["width"] <= 255 and r["channels"] == 3 for r in rows)
    # deterministic: same payload → same fake dimensions
    again = {r["doc_id"]: (r["width"], r["height"]) for r in decoded.collect()}
    assert all(again[r["doc_id"]] == (r["width"], r["height"]) for r in rows)
    meta = multimodal.attach_payload_metadata(payloads)
    assert meta.filter(F.col("n_bytes") <= 0).count() == 0
    frames = multimodal.sample_frames(payloads, fake=True)
    assert frames.count() >= 20


def test_modality_dispatch_routes_kernels_and_nulls(spark):
    rows = [
        (0, b"x" * 100, "image"),
        (1, b"x" * 100, "audio"),
        (2, b"x" * 100, "video"),
        (3, b"x" * 100, "pdf"),   # no kernel -> NULL feats
        (4, None, "audio"),       # missing blob -> NULL feats
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary, modality string")
    with pytest.raises(NotImplementedError):
        multimodal.dispatch_modalities(df).collect()
    got = {r["doc_id"]: (r["feat_a"], r["feat_b"]) for r in
           multimodal.dispatch_modalities(df, fake=True).collect()}
    import hashlib
    h = hashlib.sha256(b"x" * 100).digest()
    assert got[0] == (64 + h[0] % 192, 64 + h[1] % 192)
    assert got[1] == (100 // 32, None)
    assert got[2] == (2, None)  # ceil(100/64)
    assert got[3] == (None, None)
    assert got[4] == (None, None)


def test_incremental_dedup_classifies_null_text(spark):
    from python_openetl_spark.operators.dedup import incremental_dedup

    store = spark.createDataFrame([("feedface",)], "fp string")
    batch = spark.createDataFrame(
        [(1, None), (2, "real content"), (3, None)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["status"] for r in incremental_dedup(batch, store).collect()}
    # NULL-content rows are never dropped: they dedup against each other
    assert out == {1: "new", 2: "new", 3: "dup_in_batch"}


def test_leakage_safe_split_no_pair_straddles(spark):
    """The d31 invariant: every near-dup pair lands on ONE side of the
    split — the whole point of cluster-level assignment. Checked on the
    twinned corpus (guaranteed dup structure) via a distributed
    anti-condition count, plus: full coverage, singleton reps are
    themselves, split is deterministic across partitionings."""
    from pyspark.sql import functions as F

    from python_openetl_spark.operators.sampling import leakage_safe_split
    from python_openetl_spark.workload.llm import _docs_with_twins, _jaccard_pairs
    from tests.conftest import SF_DIR

    docs = _docs_with_twins(spark, SF_DIR)
    pairs = _jaccard_pairs(spark, SF_DIR)
    split = leakage_safe_split(docs, pairs).cache()
    try:
        assert split.count() == docs.count()  # every doc assigned
        a = split.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa"))
        b = split.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb"))
        straddlers = (
            pairs.join(a, "doc_a").join(b, "doc_b")
            .filter(F.col("sa") != F.col("sb"))
            .count()
        )
        assert straddlers == 0
        # determinism under a different partitioning
        again = leakage_safe_split(docs.repartition(13), pairs.repartition(7))
        assert split.exceptAll(again).count() == 0
        assert again.exceptAll(split).count() == 0
    finally:
        split.unpersist()


def test_cms_sketch_properties(spark):
    """CMS invariants on the fixture corpus: every estimate >= its true
    count (one-sided error), the sketch's total mass equals depth x
    stream length (it's a linear sketch), and the table never exceeds
    depth x width rows regardless of vocabulary size."""
    from pyspark.sql import functions as F

    from python_openetl_spark.functions.text import tokens
    from python_openetl_spark.operators.sketches import (
        CMS_DEPTH, CMS_WIDTH, cms_build, cms_estimate,
    )
    from python_openetl_spark.workload.util import t
    from tests.conftest import SF_DIR

    docs = t(spark, SF_DIR, "documents")
    cms = cms_build(docs).cache()
    try:
        n_cells = cms.count()
        assert n_cells <= CMS_DEPTH * CMS_WIDTH
        stream_len = docs.select(F.explode(tokens("text"))).count()
        mass = cms.groupBy("row").agg(F.sum("cnt").alias("m")).collect()
        assert len(mass) == CMS_DEPTH
        assert all(r["m"] == stream_len for r in mass)  # linearity per row

        # one-sided guarantee over the ENTIRE vocabulary, not just top-k
        vocab = (
            docs.select(F.explode(tokens("text")).alias("tok"))
            .groupBy("tok").agg(F.count(F.lit(1)).alias("true_count"))
        )
        est = cms_estimate(cms, vocab, "tok")
        violations = est.filter(F.col("cms_est") < F.col("true_count")).count()
        assert violations == 0
        # a token never seen gets a pure-collision estimate, never an error
        ghost = spark.createDataFrame([("zqxjkvvvnotatoken",)], "tok string")
        g = cms_estimate(cms, ghost, "tok").collect()[0]
        assert g["cms_est"] >= 0
    finally:
        cms.unpersist()


def test_containment_catches_quotes_jaccard_misses(spark):
    """A short quote wholly contained in a long document: containment
    1.0 from the quote side, while symmetric Jaccard stays below any
    near-dup threshold — the asymmetric detector exists precisely for
    this blind spot."""
    long_text = " ".join(f"tok{i}" for i in range(60))
    quote = " ".join(f"tok{i}" for i in range(12))  # first 12 tokens
    docs = spark.createDataFrame(
        [(1, long_text), (2, quote), (3, "completely unrelated words here")],
        "doc_id long, text string",
    )
    got = {
        (r.inner_doc, r.outer_doc): r.containment
        for r in dedup.containment_pairs(docs, threshold=0.9).collect()
    }
    assert got == {(2, 1): 1.0}
    jac = dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    assert not jac  # symmetric similarity is blind to the quote


def test_quantile_banded_sample_rounds_unrounded_scores(spark):
    """The operator now rounds scores to 6 decimals inside the band
    comparison, so an UNROUNDED caller gets the same banding as one
    that pre-rounds (the docstring's reproducibility contract)."""
    from python_openetl_spark.operators.sampling import quantile_banded_sample

    rows = [(i, i + 1e-9) for i in range(40)]  # scores carry sub-6-decimal noise
    df = spark.createDataFrame(rows, "doc_id long, score double")
    rates = {1: 1.0, 2: 1.0, 3: 1.0, 4: 1.0}
    noisy = quantile_banded_sample(df, "score", "doc_id", rates)
    clean = quantile_banded_sample(
        df.select("doc_id", F.round("score", 6).alias("score")),
        "score", "doc_id", rates,
    )
    got_noisy = {(r.doc_id, r.band) for r in noisy.select("doc_id", "band").collect()}
    got_clean = {(r.doc_id, r.band) for r in clean.select("doc_id", "band").collect()}
    assert got_noisy == got_clean
    assert {b for _, b in got_noisy} == {1, 2, 3, 4}


def test_decode_images_injected_codec(spark):
    """The codec seam: a pure-python toy decoder (parses a 'TOYwwhh'
    header) registers via ``decoder=`` and runs inside the Arrow
    kernel — no operator change, NULL payloads still decode to NULLs."""

    def toy_decoder(b: bytes) -> dict:
        assert b[:3] == b"TOY"
        return {
            "width": int(b[3:5]),
            "height": int(b[5:7]),
            "channels": 1,
            "thumbnail": b[:2],
        }

    payloads = spark.createDataFrame(
        [(1, b"TOY1208rest"), (2, b"TOY4599rest"), (3, None)],
        "doc_id long, payload binary",
    )
    got = {r.doc_id: (r.width, r.height, r.channels) for r in
           multimodal.decode_images(payloads, decoder=toy_decoder).collect()}
    assert got == {1: (12, 8, 1), 2: (45, 99, 1), 3: (None, None, None)}


def test_dispatch_modalities_injected_kernels(spark):
    """Per-modality kernel injection: custom callables replace the
    fakes; unknown modalities still yield NULL features."""
    df = spark.createDataFrame(
        [(1, b"abc", "len"), (2, b"abcdef", "len2"), (3, b"xyz", "mystery")],
        "doc_id long, payload binary, modality string",
    )
    out = multimodal.dispatch_modalities(
        df,
        kernels={
            "len": lambda b: (len(b), None),
            "len2": lambda b: (len(b) * 2, len(b)),
        },
    )
    got = {r.doc_id: (r.feat_a, r.feat_b) for r in out.collect()}
    assert got == {1: (3, None), 2: (12, 6), 3: (None, None)}


def test_blocked_fuzzy_pairs_catches_typos_shingles_miss(spark):
    """A single-character typo: edit distance 1, caught; the 3-gram
    Jaccard family scores the same pair far below any threshold."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again"),
            (2, "the quicc brown fox jumps over the lazy dog again"),
            (3, "unrelated words that share no blocking key at all"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b): r.edit_distance
             for r in dedup.blocked_fuzzy_pairs(docs).collect()}
    assert pairs == {(1, 2): 1}
    # shingle-family near-blindness on the same pair: one typo flips 3
    # shingles of this 10-token text, dropping Jaccard to ~0.6 — under
    # any tight near-dup threshold while edit distance says 1
    jac = dedup.ngram_jaccard_pairs(
        docs.filter("doc_id < 3"), threshold=0.7, shingle_n=3
    ).collect()
    assert not jac


def test_blocked_fuzzy_pairs_first_token_typo_blocks_on_last(spark):
    """Multi-key blocking: a typo IN the first token still pairs via
    the last-token key."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon tail"),
            (2, "alphaz beta gamma delta epsilon tail"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b): r.edit_distance
             for r in dedup.blocked_fuzzy_pairs(docs).collect()}
    assert pairs == {(1, 2): 1}


def test_cross_doc_repeated_windows_semantics(spark):
    from python_openetl_spark.operators.dedup import cross_doc_repeated_windows

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),        # shares the abcd window with doc 2
            (2, "a b c d x y"),
            (3, "p q r s t u"),        # unique content
            (4, "a b"),                # shorter than window -> absent
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_windows"], r["n_repeated"], r["repeat_frac"])
        for r in cross_doc_repeated_windows(docs, window=4, min_docs=2).collect()
    }
    # 6 tokens, window 4 -> 3 windows each; docs 1/2 share exactly "a b c d"
    assert out[1] == (3, 1, round(1 / 3, 6))
    assert out[2] == (3, 1, round(1 / 3, 6))
    assert out[3] == (3, 0, 0.0)
    assert 4 not in out


def test_cross_doc_repeated_windows_rejects_bad_window(spark):
    import pytest

    from python_openetl_spark.operators.dedup import cross_doc_repeated_windows

    with pytest.raises(ValueError):
        cross_doc_repeated_windows(spark.range(1), window=0)


def test_balanced_shards_dealing_and_balance(spark):
    from python_openetl_spark.operators.sampling import balanced_shards

    docs = spark.createDataFrame(
        [(i, (i * 37) % 100 + 1) for i in range(40)], "doc_id long, n long"
    )
    sh = balanced_shards(docs, 4, "n")
    rows = sh.collect()
    assert len(rows) == 40
    per = {}
    for r in rows:
        per.setdefault(r["shard_id"], []).append(r["n"])
    assert set(per) == {0, 1, 2, 3}
    totals = sorted(sum(v) for v in per.values())
    # round-robin on sorted sizes: skew bounded by one max document
    assert totals[-1] - totals[0] <= max(r["n"] for r in rows)
    # deterministic across invocations
    again = {(r["doc_id"], r["shard_id"]) for r in balanced_shards(docs, 4, "n").collect()}
    assert again == {(r["doc_id"], r["shard_id"]) for r in rows}


def test_balanced_shards_rejects_bad_n(spark):
    import pytest

    from python_openetl_spark.operators.sampling import balanced_shards

    with pytest.raises(ValueError):
        balanced_shards(spark.range(1), 0, "id")


def test_phash_near_dup_finds_duplicates_and_respects_decoder(spark):
    """Byte-identical payloads pair at hamming 0 under the default
    fake decoder AND under an injected custom decoder (the seam a real
    pillow/DCT pHash plugs into); distinct payloads with distant
    hashes do not pair; NULL payloads are skipped."""
    rows = [
        (1, b"same-bytes"), (2, b"same-bytes"),           # organic dup
        (3, b"other-content"), (4, None),                  # distinct + NULL
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    pairs = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in multimodal.phash_near_dup_pairs(df).collect()
    }
    assert pairs == {(1, 2, 0)}

    # injected decoder: constant digest -> EVERY non-null pair collides
    def const_decoder(b: bytes) -> bytes:
        return b"\x00" * 8

    allpairs = {
        (r["doc_a"], r["doc_b"])
        for r in multimodal.phash_near_dup_pairs(df, decoder=const_decoder).collect()
    }
    assert allpairs == {(1, 2), (1, 3), (2, 3)}

    hashes = multimodal.perceptual_hashes(df).collect()
    assert {r["doc_id"] for r in hashes} == {1, 2, 3}  # NULL skipped


def test_phash_null_and_zero_byte_payloads(spark):
    """r7 verdict #5 mm05 hostile shapes: NULL payloads (missing /
    corrupt blobs — routine at 100 TB) emit no hash row and therefore
    never pair; ZERO-BYTE payloads are real bytes — two empty blobs are
    byte-identical, so they must pair at hamming 0 like any other exact
    duplicate."""
    rows = [
        (1, b"same-bytes"),
        (2, b"same-bytes"),   # exact dup of 1
        (3, None),            # NULL payload
        (4, None),            # NULL payload — must not pair with 3
        (5, b""),             # zero-byte payload
        (6, b""),             # zero-byte dup of 5
        (7, b"other"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    hashes = multimodal.perceptual_hashes(df)
    assert {r["doc_id"] for r in hashes.collect()} == {1, 2, 5, 6, 7}
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in multimodal.phash_near_dup_pairs(df, max_hamming=0).collect()
    }
    assert pairs == {(1, 2), (5, 6)}


def test_frame_phash_near_dup_semantics(spark):
    """mm06 operator semantics: a full copy matches on every frame, a
    trimmed copy on exactly its shared prefix frames; NULL payloads
    and ZERO-BYTE videos sample no frames (contrast mm05: an empty
    byte string still hashes as a whole-payload image); the
    min_matched_frames threshold gates reporting."""
    base = bytes(range(256))  # 4 distinct 64-byte frames
    rows = [
        (1, base),
        (2, base),            # full copy: 4 matched frames
        (3, base[:128]),      # trimmed: shares frames 0,1
        (4, None),            # NULL payload: no frames
        (5, b""),             # zero-byte video: no frames
        (6, bytes(reversed(base))),  # different frames entirely
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        (r["doc_a"], r["doc_b"]): r["n_matched_frames"]
        for r in multimodal.frame_phash_near_dup(df).collect()
    }
    assert got == {(1, 2): 4, (1, 3): 2, (2, 3): 2}
    strict = {
        (r["doc_a"], r["doc_b"])
        for r in multimodal.frame_phash_near_dup(df, min_matched_frames=3).collect()
    }
    assert strict == {(1, 2)}
    # repeated frames WITHIN one video count once: two copies of a
    # payload that repeats one frame 3x match on exactly 1 frame hash
    rep = spark.createDataFrame(
        [(10, base[:64] * 3), (11, base[:64] * 3)], "doc_id long, payload binary"
    )
    got_rep = {
        (r["doc_a"], r["doc_b"]): r["n_matched_frames"]
        for r in multimodal.frame_phash_near_dup(rep).collect()
    }
    assert got_rep == {(10, 11): 1}


def test_paragraph_dedup_drops_cross_doc_boilerplate(spark):
    """d55: a 12-token boilerplate block planted in three docs survives
    only in the globally-first one; unique prose is untouched; a doc
    that is ALL boilerplate reassembles to ''; NULL/empty text emits no
    row."""
    boiler = " ".join(f"legal{i}" for i in range(12))
    u = lambda d, n: " ".join(f"w{d}x{j}" for j in range(n))  # noqa: E731
    rows = [
        (1, boiler + " " + u(1, 12)),          # first: keeps boiler + prose
        (2, u(2, 12) + " " + boiler),          # later: drops the boiler block
        (3, boiler),                           # all boilerplate -> ''
        (4, u(4, 5)),                          # short unique doc, 1 para
        (5, None),                             # NULL -> no row
        (6, ""),                               # empty -> no row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in dedup.paragraph_dedup(df, para_tokens=12).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert out[1]["n_paras"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["text_dedup"] == boiler + " " + u(1, 12)
    # doc 2's paragraphs are (unique, boiler): boiler already seen
    assert out[2]["n_paras"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["text_dedup"] == u(2, 12)
    assert out[3]["n_kept"] == 0 and out[3]["text_dedup"] == ""
    assert out[4]["n_kept"] == 1 and out[4]["text_dedup"] == u(4, 5)


def test_paragraph_dedup_within_doc_repeat(spark):
    """A paragraph repeated INSIDE one document keeps only its first
    occurrence (min (doc_id, idx) — the same convention as cross-doc)."""
    block = " ".join(f"t{i}" for i in range(4))
    df = spark.createDataFrame(
        [(7, block + " " + block)], "doc_id long, text string"
    )
    r = dedup.paragraph_dedup(df, para_tokens=4).collect()[0]
    assert r["n_paras"] == 2 and r["n_kept"] == 1
    assert r["text_dedup"] == block


def test_cdc_chunks_are_offset_invariant(spark):
    """mm07's core property: a prefix-padded copy shares its interior
    content-defined chunks with the original (fixed-frame hashing
    shares none), NULL/empty payloads chunk to nothing, and a repeated
    chunk within one payload fingerprints once."""
    import numpy as np

    rng = np.random.default_rng(3)
    content = rng.integers(0, 256, size=512, dtype=np.uint8).tobytes()
    pad = bytes(range(100, 141))  # 41-byte "header"
    rows = [
        (1, content),
        (2, pad + content),          # offset-shifted copy
        (3, rng.integers(0, 256, size=512, dtype=np.uint8).tobytes()),
        (4, None),
        (5, b""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    fp = multimodal.cdc_chunk_fingerprints(df, divisor=8)
    by_doc = {
        r["doc_id"]: r["n"]
        for r in fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(by_doc) == {1, 2, 3}  # NULL and empty emit nothing
    pairs = {
        (r["doc_a"], r["doc_b"]): r["n_shared_chunks"]
        for r in multimodal.cdc_chunk_near_dup(df, divisor=8).collect()
    }
    # the shifted copy shares nearly all of the original's chunks
    assert pairs.get((1, 2), 0) >= by_doc[1] - 2, (pairs, by_doc)
    # unrelated random payloads share nothing
    assert (1, 3) not in pairs and (2, 3) not in pairs
    # within-payload repetition: identical halves -> each chunk once
    rep = content[:256] + content[:256]
    df2 = spark.createDataFrame([(9, rep)], "doc_id long, payload binary")
    fps = [
        r["chunk_fp"]
        for r in multimodal.cdc_chunk_fingerprints(df2, divisor=8).collect()
    ]
    assert len(fps) == len(set(fps))
    # payload SHORTER than the rolling window (r9 verdict #5): no
    # context ever fills, so no cuts — exactly one whole-payload chunk
    short = spark.createDataFrame(
        [(20, b"abc"), (21, b"\x00")], "doc_id long, payload binary"
    )
    per = {
        r["doc_id"]: r["n"]
        for r in multimodal.cdc_chunk_fingerprints(short, window=8, divisor=8)
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per == {20: 1, 21: 1}


def test_mm07_planted_pairs_have_margin(spark):
    """The mm07 row's probabilistic floor, measured with margin (the
    x15 rule): every planted >=256-byte payload must share MANY interior
    chunks with its padded copy, not scrape by at 1."""
    from python_openetl_spark.workload.llm12 import (
        mm07_cdc_offset_invariant_dedup,
    )

    rows = mm07_cdc_offset_invariant_dedup(spark, SF_DIR).collect()
    assert rows and all(r["matched"] for r in rows)
    # recompute shared-chunk counts directly for the margin assertion
    from python_openetl_spark.workload.llm12 import _MM07_PAD
    from python_openetl_spark.workload.util import t as _t

    d = (
        _t(spark, SF_DIR, "documents")
        .filter(F.col("text").isNotNull() & (F.col("text") != ""))
        .select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
        .filter((F.col("doc_id") % 10 == 1) & (F.length("payload") >= 256))
    )
    copies = d.select(
        (F.col("doc_id") + 8_000_000).alias("doc_id"),
        F.concat(F.lit(_MM07_PAD), F.col("payload")).alias("payload"),
    )
    shared = multimodal.cdc_chunk_near_dup(
        d.unionByName(copies), divisor=8
    ).filter(F.col("doc_b") == F.col("doc_a") + 8_000_000)
    m = shared.agg(F.min("n_shared_chunks").alias("m")).collect()[0]["m"]
    assert m is not None and m >= 10, f"weakest planted pair shares only {m}"


def test_cdc_near_dup_hot_chunk_cap_bounds_pairs(spark):
    """r9 verdict #2: a UNIVERSAL chunk (zero-run / shared header) makes
    the chunk self-join quadratic — max_chunk_docs drops fingerprints
    shared by more than N payloads before the join, exactly like
    ngram_jaccard_pairs' max_shingle_docs. Plant a common block in
    every payload: uncapped pairs are quadratic, capped pairs keep
    only the genuinely-related near-dup pair; an 8-byte-digest
    injected decoder is also exercised (the r9 truncation contract)."""
    import numpy as np

    rng = np.random.default_rng(7)
    common = rng.integers(0, 256, size=256, dtype=np.uint8).tobytes()
    content = rng.integers(0, 256, size=512, dtype=np.uint8).tobytes()
    rows = [(1, content), (2, bytes(range(64)) + content)]
    # 10 unrelated docs that all embed the same universal block
    for i in range(3, 13):
        uniq = rng.integers(0, 256, size=256, dtype=np.uint8).tobytes()
        rows.append((i, common + uniq))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    uncapped = multimodal.cdc_chunk_near_dup(df, divisor=8)
    capped = multimodal.cdc_chunk_near_dup(df, divisor=8, max_chunk_docs=4)
    n_un, n_cap = uncapped.count(), capped.count()
    # universal block links all 10 planted docs pairwise (45 pairs)
    assert n_un >= 45, n_un
    cap_pairs = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert (1, 2) in cap_pairs  # the real near-dup survives the cap
    assert n_cap < n_un / 4, (n_cap, n_un)
    # an injected decoder returning MORE than 8 bytes must not overflow
    import hashlib as _h

    res = multimodal.cdc_chunk_near_dup(
        df, divisor=8, max_chunk_docs=4,
        decoder=lambda b: _h.sha256(b).digest(),  # 32 bytes, truncated
    )
    assert {(r["doc_a"], r["doc_b"]) for r in res.collect()} == cap_pairs


def test_paragraph_dedup_hostile_universal_paragraph_no_window_sort(spark):
    """r9 verdict #3+#5 hostile shapes: one paragraph planted in EVERY
    document (the hot-fingerprint group), one document that is PURE
    boilerplate (every paragraph loses -> n_kept=0, text_dedup=''),
    and the plan-shape pin: the first-occurrence decision contains NO
    Window operator — min(struct) partial-aggregates map-side, so a
    universal paragraph can never become a corpus-sized one-task sort."""
    P = 4
    boiler = "all rights reserved by the publisher"  # > P tokens? no: 6 tokens
    docs = []
    for i in range(50):
        unique = " ".join(f"u{i}w{j}" for j in range(P))
        # boilerplate paragraph first, unique paragraph second
        docs.append((i, " ".join(boiler.split()[:P]) + " " + unique))
    docs.append((999, " ".join(boiler.split()[:P])))  # pure boilerplate
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = dedup.paragraph_dedup(df, para_tokens=P)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 51
    # doc 0 wins the boilerplate; every other doc keeps only its unique
    assert rows[0]["n_kept"] == 2
    for i in range(1, 50):
        assert rows[i]["n_kept"] == 1
        assert rows[i]["text_dedup"] == " ".join(f"u{i}w{j}" for j in range(P))
    # the pure-boilerplate doc reassembles to the empty string
    assert rows[999]["n_kept"] == 0 and rows[999]["n_paras"] == 1
    assert rows[999]["text_dedup"] == ""


def test_audio_constellation_offset_invariance_and_margin(spark):
    """mm08's operator contract: a frame-ALIGNED prefix pad shares every
    interior constellation hash (offset invariance in the frequency
    domain, containment exactly 1.0); a NON-aligned pad breaks frame
    phase (stated boundary); unrelated random audio stays far below
    the containment threshold; payloads under 2 frames emit nothing;
    the hot-key cap bounds corpus-wide landmarks."""
    import numpy as np

    from python_openetl_spark.operators.multimodal import (
        audio_constellation_fingerprints,
        audio_constellation_near_dup,
    )

    rng = np.random.default_rng(11)
    content = rng.integers(0, 256, size=512, dtype=np.uint8).tobytes()  # 8 frames
    aligned_pad = bytes(range(64)) * 2  # 128 B = exactly 2 frames
    rows = [
        (1, content),
        (2, aligned_pad + content),      # frame-aligned copy -> matches
        (3, b"\x01" * 37 + content),     # unaligned pad -> phase broken
        (4, rng.integers(0, 256, size=512, dtype=np.uint8).tobytes()),
        (5, b"\x00" * 40),               # < 2 frames -> no hashes
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    fp = audio_constellation_fingerprints(df, frame_samples=32)
    per = {
        r["doc_id"]: r["n"]
        for r in fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert 5 not in per and 6 not in per
    pairs = {
        (r["doc_a"], r["doc_b"]): r
        for r in audio_constellation_near_dup(df, frame_samples=32).collect()
    }
    # aligned copy: containment exactly 1.0 (copy hash set is a superset)
    assert (1, 2) in pairs and pairs[(1, 2)]["containment"] == 1.0
    assert pairs[(1, 2)]["n_shared_hashes"] == per[1]
    # unrelated random audio never crosses the containment threshold
    assert (1, 4) not in pairs and (2, 4) not in pairs
    # below-threshold collisions are visible at min_containment=0
    raw = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in audio_constellation_near_dup(
            df, frame_samples=32, min_containment=0.0
        ).collect()
    }
    assert raw.get((1, 4), 0.0) < 0.5  # background noise, not structure
    # the hot-key cap drops hashes common to >N docs before the join
    capped = audio_constellation_near_dup(df, frame_samples=32, max_fp_docs=1)
    assert capped.count() == 0  # every shared hash is by definition in 2 docs


def test_mm08_planted_pairs_have_margin(spark):
    """The mm08 row's floor, measured with margin (the x15/mm07 rule):
    every planted >= 384-byte payload shares MANY hashes with its
    frame-aligned padded copy, not just one."""
    from python_openetl_spark.operators.multimodal import (
        audio_constellation_near_dup,
    )
    from python_openetl_spark.workload.llm13 import (
        _MM08_PAD,
        mm08_audio_constellation_near_dup,
    )
    from python_openetl_spark.workload.util import t as _t

    assert len(_MM08_PAD) == 128  # exactly 2 frames of 32 int16 samples
    rows = mm08_audio_constellation_near_dup(spark, SF_DIR).collect()
    assert rows and all(r["matched"] for r in rows)
    d = (
        _t(spark, SF_DIR, "documents")
        .filter(F.col("text").isNotNull() & (F.col("text") != ""))
        .select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
        .filter((F.col("doc_id") % 10 == 5) & (F.length("payload") >= 384))
    )
    copies = d.select(
        (F.col("doc_id") + 9_000_000).alias("doc_id"),
        F.concat(F.lit(_MM08_PAD), F.col("payload")).alias("payload"),
    )
    shared = audio_constellation_near_dup(
        d.unionByName(copies), frame_samples=32
    ).filter(F.col("doc_b") == F.col("doc_a") + 9_000_000)
    agg = shared.agg(
        F.min("containment").alias("c"), F.min("n_shared_hashes").alias("m")
    ).collect()[0]
    # the decision metric is CONTAINMENT (exactly 1.0 for every planted
    # superset copy); absolute counts vary with spectral repetitiveness
    assert agg["c"] == 1.0, f"weakest planted containment {agg['c']}"
    assert agg["m"] is not None and agg["m"] >= 2


def test_constellation_packing_bounds_validated(spark):
    """Round-10 review: the (f1,f2,dt) int64 packing silently collides
    past frame_samples 8190 (f2 overflows its 12-bit field) or fanout
    255 (dt overflows 8 bits) — both now raise instead."""
    import pytest as _pytest

    from python_openetl_spark.operators.multimodal import (
        audio_constellation_fingerprints,
    )

    df = spark.createDataFrame([(1, b"\x00" * 64)], "doc_id long, payload binary")
    with _pytest.raises(ValueError, match="12-bit"):
        audio_constellation_fingerprints(df, frame_samples=8192)
    with _pytest.raises(ValueError, match="8-bit"):
        audio_constellation_fingerprints(df, fanout=256)


def test_dsir_importance_score_semantics(spark):
    """d58's operator (DSIR, Xie et al. 2023): documents made of
    target-typical tokens score HIGHER than corpus-typical ones; the
    add-1 smoothed target LM keeps target-unseen tokens finite (and
    negative); zero-token documents emit no row; NULL predicate rows
    count as non-target."""
    from python_openetl_spark.operators.textops import dsir_importance_score

    rows = [
        # target docs dominated by 'alpha beta'
        (1, "alpha beta alpha beta alpha", "en"),
        (2, "alpha beta beta alpha", "en"),
        # non-target docs dominated by 'gamma delta'
        (3, "gamma delta gamma delta", "de"),
        (4, "gamma delta delta gamma gamma", "de"),
        # mixed doc, non-target lang; and a doc whose tokens the target
        # never saw
        (5, "alpha gamma", "fr"),
        (6, "epsilon epsilon epsilon", None),
        (7, "", "en"),          # zero tokens -> no row
        (8, None, "en"),        # NULL text -> no row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["dsir_score"])
        for r in dsir_importance_score(df, F.col("lang") == "en").collect()
    }
    assert set(got) == {1, 2, 3, 4, 5, 6}
    # target-typical docs score above corpus-typical ones
    assert got[1][1] > got[3][1] and got[2][1] > got[4][1]
    # target-unseen tokens: finite (smoothing floor), negative, and
    # below every target-typical doc
    import math

    assert math.isfinite(got[6][1]) and got[6][1] < 0
    assert got[6][1] < got[2][1]
    # the mixed doc sits between the extremes
    assert got[3][1] < got[5][1] < got[1][1]
    assert got[1][0] == 5 and got[6][0] == 3


# ------------------------------------------------------- weighted sampling --


def test_weighted_sample_statistics_and_determinism(spark):
    """Efraimidis–Spirakis sampling: exact k per stratum, deterministic
    under repartitioning, higher-weight rows oversampled roughly in
    proportion (sanity band, not a sharp statistical test), and the
    kept set equals a brute-force single-window computation."""
    from pyspark.sql import Window

    from python_openetl_spark.operators.sampling import es_sample_key, weighted_sample

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang", "n_chars")
    got = weighted_sample(docs, "doc_id", "n_chars", 10, strata_col="lang")
    per = {r["lang"]: r["n"] for r in got.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert all(n == 10 for n in per.values()) and len(per) == 5
    # rank is 1..k per stratum
    ranks = got.groupBy("lang").agg(
        F.min("sample_rank").alias("lo"), F.max("sample_rank").alias("hi")
    ).collect()
    assert all(r["lo"] == 1 and r["hi"] == 10 for r in ranks)
    # determinism under a hostile partitioning
    again = weighted_sample(
        docs.repartition(13), "doc_id", "n_chars", 10, strata_col="lang"
    )
    assert got.select("doc_id").exceptAll(again.select("doc_id")).count() == 0
    # equals the brute-force single-window top-k (the thing the
    # two-phase bucketing is an optimization of)
    brute = (
        docs.filter(F.col("n_chars") > 0)
        .withColumn("es", es_sample_key(F.col("doc_id"), F.col("n_chars")))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(F.desc("es"), F.asc("doc_id"))
            ),
        )
        .filter(F.col("rn") <= 10)
    )
    assert got.select("doc_id").exceptAll(brute.select("doc_id")).count() == 0
    assert brute.select("doc_id").exceptAll(got.select("doc_id")).count() == 0


def test_weighted_sample_weight_proportionality(spark):
    """With weights 1 vs 100 on an even key split, the heavy half must
    dominate the sample (inclusion ∝ weight; a uniform sampler would
    split ~50/50)."""
    from python_openetl_spark.operators.sampling import weighted_sample

    rows = [(i, 100.0 if i % 2 == 0 else 1.0) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = weighted_sample(df, "id", "w", 200)
    heavy = got.filter(F.col("id") % 2 == 0).count()
    assert heavy > 170  # E[heavy] ≈ 198; uniform would give ~100


def test_weighted_sample_hostile_shapes(spark):
    """NULL/zero/negative weights are dropped (no defined inclusion
    probability); k larger than a stratum returns the whole stratum
    with contiguous ranks; k < 1 rejected; empty input yields empty."""
    from python_openetl_spark.operators.sampling import weighted_sample

    rows = [(1, 5.0, "a"), (2, None, "a"), (3, 0.0, "a"), (4, -2.0, "a"),
            (5, 1.0, "b"), (6, 2.0, "b")]
    df = spark.createDataFrame(rows, "id long, w double, g string")
    got = weighted_sample(df, "id", "w", 10, strata_col="g").collect()
    by_g = {}
    for r in got:
        by_g.setdefault(r["g"], []).append(r["sample_rank"])
    assert sorted(by_g["a"]) == [1]  # NULL/0/negative dropped
    assert sorted(by_g["b"]) == [1, 2]
    with pytest.raises(ValueError, match="k must be"):
        weighted_sample(df, "id", "w", 0)
    empty = weighted_sample(df.filter(F.lit(False)), "id", "w", 3)
    assert empty.count() == 0


def test_patch_grid_exact_tiling_and_null_dims(spark):
    """130x65 @ patch 64 -> 2x3 grid with clipped edge tiles; NULL
    dims expand to nothing; patch < 1 rejected."""
    from python_openetl_spark.operators.multimodal import patch_grid

    meta = spark.createDataFrame(
        [(1, 130, 65), (2, None, None), (3, 64, 64)],
        "doc_id long, width int, height int",
    )
    got = patch_grid(meta, patch=64).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 3: exactly one full tile
    assert len(by_doc[3]) == 1
    t3 = by_doc[3][0]
    assert (t3["py"], t3["px"], t3["ph"], t3["pw"]) == (0, 0, 64, 64)
    # doc 2 (failed decode): no rows
    assert 2 not in by_doc
    # doc 1: width 130 -> nx=3 (pw 64,64,2), height 65 -> ny=2 (ph 64,1)
    tiles = {(r["py"], r["px"]): (r["ph"], r["pw"]) for r in by_doc[1]}
    assert len(tiles) == 6
    assert tiles[(0, 0)] == (64, 64)
    assert tiles[(0, 2)] == (64, 2)
    assert tiles[(1, 0)] == (1, 64)
    assert tiles[(1, 2)] == (1, 2)
    # patch_idx is row-major and unique
    idxs = sorted(r["patch_idx"] for r in by_doc[1])
    assert idxs == [0, 1, 2, 3, 4, 5]
    with pytest.raises(ValueError, match="patch must be"):
        patch_grid(meta, patch=0)


def test_ivf_recall_report_invariants_and_edges(spark):
    """Full-budget recall is exactly 1.0 and top1 is the planted
    anchor; the curve is monotone; empty queries/corpus degrade to a
    typed-empty frame; bad params rejected."""
    import pandas as pd

    from python_openetl_spark.operators.similarity import ivf_recall_report

    emb = load_table(spark, SF_DIR, "embeddings")
    q = (
        emb.filter(F.col("vec_id") % 100 == 3)
        .select((F.col("vec_id") + 5_000_000).alias("query_id"), "embedding")
        .toPandas()
    )
    rep = ivf_recall_report(emb, q, k=5, nlist=16, budgets=(1, 4, 16)).toPandas()
    assert len(rep) == len(q)
    assert (rep["recall_at_16"] == 1.0).all()
    assert rep["monotone_ok"].all()
    assert (rep["top1_id"] == rep["query_id"] - 5_000_000).all()
    assert (rep["recall_at_1"] <= rep["recall_at_4"]).all()
    # empty queries
    empty_q = pd.DataFrame({"query_id": [], "embedding": []})
    assert ivf_recall_report(emb, empty_q, k=5, nlist=16).count() == 0
    # empty corpus
    assert (
        ivf_recall_report(emb.filter(F.lit(False)), q, k=5, nlist=16).count() == 0
    )
    with pytest.raises(ValueError, match=">= 1"):
        ivf_recall_report(emb, q, k=0, nlist=16)
    with pytest.raises(ValueError, match=">= 1"):
        ivf_recall_report(emb, q, k=5, nlist=16, budgets=(0, 4))


def test_patch_grid_zero_dims_expand_to_nothing(spark):
    """width=0 / height=0 decodes must not emit the sequence(0,-1)
    garbage tiles."""
    from python_openetl_spark.operators.multimodal import patch_grid

    meta = spark.createDataFrame(
        [(1, 0, 100), (2, 100, 0), (3, -5, 100), (4, 64, 64)],
        "doc_id long, width int, height int",
    )
    got = patch_grid(meta, patch=64).collect()
    assert [r["doc_id"] for r in got] == [4]


def test_source_overlap_sketch_zero_shingle_sources(spark, tmp_path):
    """Sources whose documents all have <3 tokens produce zero shingles
    and are OMITTED from the report (no evidence — same convention as
    d58's zero-token documents, and what the oracle's unnest does);
    pairs among shingled sources still appear with exact overlap."""
    import os

    from python_openetl_spark.workload.llm14 import QUERIES

    d = str(tmp_path / "sfx")
    os.makedirs(d)
    rows = [
        (1, "one two", "en", "srcA", 7),
        (2, "tiny", "en", "srcA", 4),
        (3, "alpha beta", "en", "srcB", 10),
        (4, "the quick brown fox jumps", "en", "srcC", 25),
        (5, "the quick brown cat sits", "en", "srcD", 25),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))
    out = {
        (r["src_a"], r["src_b"]): r
        for r in QUERIES["d60_source_overlap_sketch"](spark, d).collect()
    }
    # only the two shingled sources pair up; srcA/srcB are omitted
    assert set(out) == {("srcC", "srcD")}
    cd = out[("srcC", "srcD")]
    # each doc has 3 shingles; they share exactly "the quick brown"
    assert cd["exact_a"] == 3 and cd["exact_b"] == 3 and cd["exact_overlap"] == 1
    assert cd["union_ok"] is True


def test_weighted_sample_hostile_weights_and_k(spark):
    """r12 hostile shapes (r11 verdict #5): zero/NULL/negative weights
    are dropped (no defined inclusion probability), equal weights still
    draw exactly k with a gapless 1..k rank, near-overflow weights stay
    finite, and k > corpus returns every eligible row rather than
    erroring or padding."""
    from python_openetl_spark.operators.sampling import weighted_sample

    rows = [(i, 100.0) for i in range(10)]
    rows += [(100, 0.0), (101, None), (102, -5.0)]  # ineligible
    df = spark.createDataFrame(rows, "doc_id long, w double")

    # equal weights: exactly k survivors, ranks 1..k, all eligible
    got = weighted_sample(df, "doc_id", "w", 4).collect()
    assert sorted(r["sample_rank"] for r in got) == [1, 2, 3, 4]
    assert all(r["doc_id"] < 100 for r in got)

    # k > corpus: all 10 eligible rows, nothing invented
    got = weighted_sample(df, "doc_id", "w", 50).collect()
    assert sorted(r["doc_id"] for r in got) == list(range(10))
    assert sorted(r["sample_rank"] for r in got) == list(range(1, 11))

    # huge weights: ln(u)/w underflows toward 0 but stays FINITE, and
    # the draw still returns k distinct rows
    import math

    huge = spark.createDataFrame(
        [(i, 1e308) for i in range(6)], "doc_id long, w double"
    )
    got = weighted_sample(huge, "doc_id", "w", 3).collect()
    assert len(got) == 3
    assert all(math.isfinite(r["es_key"]) for r in got)

    # all-ineligible corpus: empty result with the contract columns
    none = weighted_sample(
        df.filter(F.col("doc_id") >= 100), "doc_id", "w", 3
    )
    assert none.count() == 0
    assert {"es_key", "sample_rank"} <= set(none.columns)


def test_dsir_hostile_empty_target_and_single_token_vocab(spark):
    """DSIR with an EMPTY target slice must stay finite (add-1
    smoothing over the source vocabulary is the only target mass:
    every token's ratio is ln(1/V) - ln(n_s/T)), and a single-token
    vocabulary gives every document the identical score (no
    discriminating evidence) — ln(((n_t+1)/(T_t+1)) / 1) since
    n_s/T_s = 1."""
    import math

    from python_openetl_spark.operators.textops import dsir_importance_score

    df = spark.createDataFrame(
        [(1, "aa bb", "en"), (2, "aa aa", "de"), (3, "bb", "de")],
        "doc_id long, text string, lang string",
    )
    # empty target: lang == 'xx' marks nothing
    got = {
        r["doc_id"]: r["dsir_score"]
        for r in dsir_importance_score(df, F.col("lang") == "xx").collect()
    }
    assert set(got) == {1, 2, 3}
    assert all(math.isfinite(v) for v in got.values())
    # hand-check doc 3: one token 'bb', n_s=2, T_s=5, n_t=0, T_t=0, V=2
    exp3 = round(round(math.log((0 + 1) / (0 + 2)) - math.log(2 / 5), 9), 6)
    assert got[3] == pytest.approx(exp3, abs=1e-9)

    # single-token vocabulary: every doc scores identically
    mono = spark.createDataFrame(
        [(1, "tok tok", "en"), (2, "tok", "de"), (3, "tok tok tok", "de")],
        "doc_id long, text string, lang string",
    )
    scores = {
        r["doc_id"]: r["dsir_score"]
        for r in dsir_importance_score(mono, F.col("lang") == "en").collect()
    }
    assert len(set(scores.values())) == 1
    assert all(math.isfinite(v) for v in scores.values())


def test_ivf_recall_report_store_smaller_than_probe_budget(spark):
    """r12 hostile shape: a corpus SMALLER than k, indexed under fewer
    cells than the smallest probe budget — budgets past nlist clamp to
    a full probe (recall 1.0 at every budget, exact_k = the whole
    corpus since k exceeds it — the id-shifted query excludes nothing,
    monotone trivially true), never an error or a padded result."""
    from python_openetl_spark.operators.similarity import ivf_recall_report

    vecs = [
        (1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [0.1, 0.9]),
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = (
        emb.filter(F.col("vec_id") == 1)
        .select((F.col("vec_id") + 100).alias("query_id"), "embedding")
        .toPandas()
    )
    rep = ivf_recall_report(
        emb, q, k=10, nlist=2, budgets=(8, 16)
    ).toPandas()
    assert len(rep) == 1
    row = rep.iloc[0]
    assert row["exact_k"] == 4          # whole corpus: k > |corpus|
    assert row["top1_id"] == 1          # planted anchor, cos 1.0
    assert row["recall_at_8"] == 1.0 and row["recall_at_16"] == 1.0
    assert bool(row["monotone_ok"])


def test_weighted_epoch_all_docs_fail_length_gate(spark):
    """e11's composite shape when the hygiene gate rejects EVERYTHING:
    the epoch draw over an empty kept-set is an empty frame with the
    contract columns — the pipeline degrades to zero rows, it does not
    throw or emit ranks."""
    from python_openetl_spark.operators.dedup import exact_dedup_keep
    from python_openetl_spark.operators.sampling import weighted_sample

    d = spark.createDataFrame(
        [(1, "short", "en", 5), (2, "tiny", "de", 4)],
        "doc_id long, text string, lang string, n_chars int",
    )
    kept = exact_dedup_keep(d).filter(F.col("n_chars") >= 100)
    out = weighted_sample(kept, "doc_id", "n_chars", 20, strata_col="lang")
    assert out.count() == 0
    assert {"doc_id", "lang", "n_chars", "es_key", "sample_rank"} <= set(out.columns)
