"""Property-based tests (hypothesis): the incremental-maintenance and
as-of operators agree with brute-force Python oracles on arbitrary
small inputs — NULL keys, duplicate pks, empty sides, timestamp ties.

Example counts are kept small: every example runs real Spark jobs.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings, strategies as st

from python_openetl_spark.operators.asof import asof_join
from python_openetl_spark.operators.merge import dedupe_latest, merge_upsert

_settings = settings(max_examples=12, deadline=None)

_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),   # pk
        st.integers(min_value=0, max_value=50),  # version / ordering
        st.integers(min_value=-5, max_value=5),  # payload
    ),
    max_size=12,
)


@given(target=_rows, delta=_rows)
@_settings
def test_merge_upsert_matches_oracle_and_is_idempotent(spark, target, delta):
    schema = "pk long, ver long, val long"
    t_df = spark.createDataFrame(target, schema)
    d_df = spark.createDataFrame(delta, schema)

    merged = merge_upsert(t_df, d_df, "pk", order_col="ver")
    got = {r["pk"]: (r["ver"], r["val"]) for r in merged.collect()}

    # oracle: delta wins per pk (latest ver, ties by max val since
    # dedupe_latest orders by (ver desc) with row_number — tie-break is
    # unspecified, so only compare pks whose delta has a unique max ver
    want_keys = {pk for pk, _, _ in target} | {pk for pk, _, _ in delta}
    assert set(got) == want_keys

    deltas_by_pk: dict[int, list[tuple[int, int]]] = {}
    for pk, ver, val in delta:
        deltas_by_pk.setdefault(pk, []).append((ver, val))
    for pk, rows in deltas_by_pk.items():
        best_ver = max(v for v, _ in rows)
        assert got[pk][0] == best_ver
        if sum(1 for v, _ in rows if v == best_ver) == 1:
            assert got[pk] == next((v, x) for v, x in rows if v == best_ver)

    # idempotence: re-merging the same delta changes nothing
    again = merge_upsert(merged, d_df, "pk", order_col="ver")
    got2 = {r["pk"]: (r["ver"], r["val"]) for r in again.collect()}
    assert got2 == got


@given(delta=_rows)
@_settings
def test_dedupe_latest_keeps_one_row_per_pk(spark, delta):
    d_df = spark.createDataFrame(delta, "pk long, ver long, val long")
    out = dedupe_latest(d_df, "pk", "ver").collect()
    assert len(out) == len({pk for pk, _, _ in delta})
    best = {}
    for pk, ver, _ in delta:
        best[pk] = max(best.get(pk, -1), ver)
    for r in out:
        assert r["ver"] == best[r["pk"]]


_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),    # key
        st.integers(min_value=0, max_value=100),  # seconds offset
    ),
    max_size=10,
)


@given(left=_events, right=_events)
@_settings
def test_asof_join_matches_bruteforce(spark, left, right):
    base = dt.datetime(2024, 1, 1)
    lrows = [(i, k, base + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(left)]
    rrows = [(i, k, base + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(right)]
    l_df = spark.createDataFrame(lrows, "lid long, k long, ts timestamp")
    r_df = spark.createDataFrame(rrows, "rid long, k long, ts timestamp")
    out = {
        r["lid"]: r["asof_rid"]
        for r in asof_join(l_df, r_df, on="ts", by="k", seq_col="rid").collect()
    }
    for lid, k, lts in lrows:
        cands = [(rts, rid) for rid, rk, rts in rrows if rk == k and rts <= lts]
        want = max(cands)[1] if cands else None
        assert out[lid] == want, (lid, out[lid], want)
    assert len(out) == len(lrows)


_points = st.lists(
    st.tuples(st.integers(0, 30), st.floats(-100, 100, allow_nan=False)),
    max_size=15, unique_by=lambda t: t[0],
)
_intervals = st.lists(
    st.tuples(st.floats(-100, 100, allow_nan=False), st.floats(0.1, 60),
              st.integers(0, 100)),
    max_size=8,
)


@given(points=_points, intervals=_intervals,
       bin_width=st.sampled_from([3.0, 10.0, 47.5]))
@_settings
def test_binned_interval_join_matches_bruteforce(spark, points, intervals, bin_width):
    from python_openetl_spark.operators.rangejoin import binned_interval_join

    p_df = spark.createDataFrame(points, "pid long, x double")
    iv = [(lo, lo + w, i) for lo, w, i in intervals]
    iv_df = spark.createDataFrame(iv, "lo double, hi double, ivid long")
    got = {
        (r["pid"], r["ivid"])
        for r in binned_interval_join(
            p_df, iv_df, "x", "lo", "hi", bin_width=bin_width
        ).collect()
    }
    want = {
        (pid, ivid)
        for pid, x in points
        for lo, hi, ivid in iv
        if lo <= x < hi
    }
    assert got == want


_scd_rows = st.lists(
    st.tuples(st.integers(0, 4), st.integers(-3, 3)), max_size=8,
    unique_by=lambda t: t[0],
)


@given(snap=_scd_rows, d1=_scd_rows, d2=_scd_rows)
@_settings
def test_scd2_invariants_under_delta_sequences(spark, snap, d1, d2):
    from python_openetl_spark.operators.scd import scd2_init, scd2_merge

    schema = "id long, attr long"
    hist = scd2_init(spark.createDataFrame(snap, schema), "2024-01-01 00:00:00")
    for i, delta in enumerate((d1, d2)):
        hist = scd2_merge(
            hist, spark.createDataFrame(delta, schema), "id",
            f"2024-02-0{i + 1} 00:00:00",
        )
    rows = hist.collect()
    by_id: dict[int, list] = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append(r)
    known = {pk for pk, _ in snap} | {pk for pk, _ in d1} | {pk for pk, _ in d2}
    assert set(by_id) <= known
    latest = {}
    for pk, a in snap + d1 + d2:  # later deltas overwrite
        latest[pk] = a
    for pk, versions in by_id.items():
        current = [v for v in versions if v["is_current"]]
        assert len(current) == 1              # exactly one open version
        assert current[0]["valid_to"] is None
        closed = [v for v in versions if not v["is_current"]]
        assert all(v["valid_to"] is not None for v in closed)
        # the open version carries the latest delta state for this key
        assert current[0]["attr"] == latest[pk]


@given(
    texts=st.lists(
        st.text(
            # mix ascii words, digits, punctuation, unicode letters, CJK
            alphabet=st.sampled_from("abz09 .,!\t\né中ß-_/"),
            max_size=40,
        ),
        min_size=1,
        max_size=8,
    ),
    n=st.integers(min_value=2, max_value=4),
)
@_settings
def test_text_shingles_equals_canonical_on_arbitrary_text(spark, texts, n):
    """The regex fast path must agree with shingles(tokens(text), n) on
    arbitrary strings — unicode separators, empty docs, digits-only."""
    from pyspark.sql import functions as F

    from python_openetl_spark.functions.text import shingles, text_shingles, tokens

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    bad = (
        df.select(
            (shingles(tokens(F.col("text")), n) == text_shingles(F.col("text"), n)).alias("eq")
        )
        .filter(~F.col("eq"))
        .count()
    )
    assert bad == 0


_uniq_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),
        st.integers(min_value=0, max_value=50),
        st.integers(min_value=-5, max_value=5),
    ),
    max_size=10,
    unique_by=lambda t: t[0],
)


@given(target=_uniq_rows, delta=_rows)
@_settings
def test_merge_upsert_evolves_schema_on_both_sides(spark, target, delta):
    """Columns added on BOTH sides simultaneously: delta-only columns
    read NULL on untouched target rows; target-only columns are
    PRESERVED on matched rows (updateAll semantics) and NULL on
    inserts."""
    t_df = spark.createDataFrame(
        [(pk, ver, val, pk * 100) for pk, ver, val in target],
        "pk long, ver long, val long, t_only long",
    )
    d_df = spark.createDataFrame(
        [(pk, ver, val, f"d{val}") for pk, ver, val in delta],
        "pk long, ver long, val long, d_only string",
    )
    merged = merge_upsert(t_df, d_df, "pk", order_col="ver", evolve_schema=True)
    assert sorted(merged.columns) == ["d_only", "pk", "t_only", "val", "ver"]
    rows = {r["pk"]: r for r in merged.collect()}

    t_pks = {pk for pk, _, _ in target}
    d_pks = {pk for pk, _, _ in delta}
    assert set(rows) == t_pks | d_pks
    for pk, r in rows.items():
        if pk in d_pks:
            best_ver = max(v for p, v, _ in delta if p == pk)
            assert r["ver"] == best_ver
            # matched rows keep the target-only column; inserts read NULL
            assert r["t_only"] == (pk * 100 if pk in t_pks else None)
            assert r["d_only"] is not None and r["d_only"].startswith("d")
        else:  # untouched target row: delta-only column reads NULL
            tver, tval = next((v, x) for p, v, x in target if p == pk)
            assert (r["ver"], r["val"], r["t_only"], r["d_only"]) == (
                tver, tval, pk * 100, None,
            )


def test_merge_upsert_evolve_widens_numerics(spark):
    t_df = spark.createDataFrame([(1, 2)], "pk long, val long")
    d_df = spark.createDataFrame([(2, 3.5)], "pk long, val double")
    out = merge_upsert(t_df, d_df, "pk", evolve_schema=True)
    assert dict(out.dtypes)["val"] == "double"
    assert {r["pk"]: r["val"] for r in out.collect()} == {1: 2.0, 2: 3.5}


def test_merge_upsert_evolve_rejects_incompatible_types(spark):
    import pytest

    t_df = spark.createDataFrame([(1, 2)], "pk long, val long")
    d_df = spark.createDataFrame([(2, "x")], "pk long, val string")
    with pytest.raises(ValueError, match="incompatible types"):
        merge_upsert(t_df, d_df, "pk", evolve_schema=True)


_corpus_texts = st.lists(
    st.text(alphabet="ab c", max_size=16), min_size=1, max_size=8
)


@given(texts=_corpus_texts, qtext=st.text(alphabet="ab c", max_size=8))
@_settings
def test_bm25_matches_bruteforce(spark, texts, qtext):
    """bm25_topk agrees with a pure-Python Okapi scorer on arbitrary
    tiny corpora — empty docs, whitespace-only queries, every doc
    identical, single-term vocabularies."""
    import math
    import re
    from collections import Counter

    from python_openetl_spark.operators.retrieval import bm25_topk

    k1, b = 1.2, 0.75
    docs = [(i, t) for i, t in enumerate(texts)]
    toks = {i: [x for x in re.split("[^a-z0-9]+", t.lower()) if x] for i, t in docs}
    qterms = sorted({x for x in re.split("[^a-z0-9]+", qtext.lower()) if x})
    n = len(docs)
    sum_dl = sum(len(v) for v in toks.values())
    avgdl = sum_dl / n
    dfreq = Counter(t for v in toks.values() for t in set(v) if t in qterms)
    want = {}
    for i, v in toks.items():
        tf = Counter(v)
        s = 0
        for term in qterms:
            if tf[term] == 0:
                continue
            idf = round(math.log((n - dfreq[term] + 0.5) / (dfreq[term] + 0.5) + 1.0), 9)
            tfn = tf[term] * (k1 + 1.0) / (
                tf[term] + k1 * (1.0 - b + b * (len(v) / avgdl))
            )
            s += round(idf * tfn, 7)
        if s or any(tf[t] for t in qterms):
            want[i] = round(s, 7)
    expected = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:3]

    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    q = spark.createDataFrame([(0, qtext)], "query_id long, qtext string")
    got = [
        (r.doc_id, round(r.score, 7))
        for r in bm25_topk(sdf, q, k=3).orderBy("rank").collect()
    ]
    assert got == expected


def test_dedupe_latest_breaks_ties_deterministically(spark):
    """Equal order_col rows resolve by remaining columns (name-sorted,
    desc) — stable under any partition layout."""
    rows = [(1, 5, v) for v in (3, 9, 1)] + [(2, 5, 7), (2, 4, 100)]
    df = spark.createDataFrame(rows, "pk long, ver long, val long")
    for layout in (df, df.repartition(7), df.coalesce(1)):
        got = {r["pk"]: (r["ver"], r["val"]) for r in dedupe_latest(layout, "pk", "ver").collect()}
        assert got == {1: (5, 9), 2: (5, 7)}


@given(
    texts=st.lists(st.text(alphabet="abc d", max_size=40), min_size=1, max_size=5),
    chunk=st.integers(min_value=2, max_value=10),
    overlap=st.integers(min_value=0, max_value=8),
)
@_settings
def test_chunk_documents_reconstructs_token_stream(spark, texts, chunk, overlap):
    """Chunking invariant: dropping each chunk's leading `overlap`
    tokens (except chunk 0) and concatenating in chunk order yields
    exactly the original token stream — no token lost, duplicated, or
    reordered, for any (chunk_tokens, overlap) with stride > 0."""
    import re

    from python_openetl_spark.operators.textops import chunk_documents

    if overlap >= chunk:
        overlap = chunk - 1
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    # spans recomputed locally from start_tok/chunk_len against the
    # same tokenizer (the frame carries only fingerprints)
    rows = (
        chunk_documents(df, chunk_tokens=chunk, overlap=overlap)
        .orderBy("doc_id", "chunk_idx")
        .collect()
    )
    toks = {
        i: [x for x in re.split("[^a-z0-9]+", t.lower()) if x]
        for i, t in enumerate(texts)
    }
    per_doc: dict[int, list] = {}
    for r in rows:
        span = toks[r["doc_id"]][r["start_tok"] - 1 : r["start_tok"] - 1 + chunk]
        assert len(span) == r["chunk_len"]
        acc = per_doc.setdefault(r["doc_id"], [])
        acc.extend(span if r["chunk_idx"] == 0 else span[overlap:])
    for i, t in enumerate(texts):
        assert per_doc.get(i, []) == toks[i]


_url_piece = st.text(
    alphabet="abcXYZ019-._~/?&=#:%", min_size=0, max_size=25
)


@given(
    scheme=st.sampled_from(["http", "https", "HTTP", "HTTPS", "ftp"]),
    host=st.text(alphabet="abcDEF01.-", min_size=1, max_size=15),
    rest=_url_piece,
)
@settings(max_examples=30, deadline=None)
def test_canonical_url_is_idempotent(spark, scheme, host, rest):
    """canon(canon(u)) == canon(u) for arbitrary scheme://host/rest —
    the defining property of a canonicalizer (a second pass finding
    more to strip means variants of the same URL can still diverge)."""
    from python_openetl_spark.functions.urls import canonical_url

    url = f"{scheme}://{host}/{rest}"
    df = spark.createDataFrame([(url,)], "url string")
    once = df.select(canonical_url("url").alias("c"))
    twice = once.select(canonical_url("c").alias("c"))
    a = once.collect()[0].c
    b = twice.collect()[0].c
    assert a == b, f"not idempotent: {url!r} -> {a!r} -> {b!r}"


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=15, deadline=None)
def test_pagerank_mass_conservation(spark, edges):
    """Ranks stay a probability distribution (sum 1 within rounding)
    for arbitrary small graphs — dangling redistribution included."""
    from pyspark.sql import functions as F

    from python_openetl_spark.operators.linkrank import pagerank

    e = spark.createDataFrame(edges, "src long, dst long")
    if e.filter("src != dst").count() == 0:
        return  # all self-loops: no graph survives preprocessing
    total = pagerank(e, iters=2).agg(F.sum("rank")).collect()[0][0]
    assert abs(total - 1.0) < 1e-8


_daily_rows = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 40), st.integers(0, 50)),
    max_size=12, unique_by=lambda t: (t[0], t[1]),
)


@given(rows=_daily_rows)
@_settings
def test_gap_fill_covers_spine_and_preserves_observations(spark, rows):
    from python_openetl_spark.operators.timeseries import gap_fill

    if not rows:
        return
    base = dt.date(2024, 1, 1)
    data = [(g, base + dt.timedelta(days=d), float(v)) for g, d, v in rows]
    daily = spark.createDataFrame(data, "g long, day date, v double")
    out = {
        (r["g"], r["day"]): r["v"]
        for r in gap_fill(daily, ["g"], "day", zero_cols=["v"]).collect()
    }
    # every observed row survives unchanged
    for g, day, v in data:
        assert out[(g, day)] == v
    # per-group: exactly the [min, max] day range, gaps zero-filled
    import collections
    spans = collections.defaultdict(list)
    for g, day, _ in data:
        spans[g].append(day)
    want_n = sum((max(ds) - min(ds)).days + 1 for ds in spans.values())
    assert len(out) == want_n
    observed = {(g, d) for g, d, _ in data}
    assert all(v == 0.0 for k, v in out.items() if k not in observed)


_bpe_words = st.lists(
    st.text(alphabet="abc", min_size=1, max_size=6), min_size=1, max_size=12
)


@given(words=_bpe_words)
@_settings
def test_bpe_train_matches_sequential_reference(spark, words):
    """The distributed trainer must equal a straightforward single-node
    greedy BPE (count adjacent pairs weighted by word frequency, merge
    the (freq desc, pair asc) winner left-to-right, repeat)."""
    from collections import Counter

    from python_openetl_spark.operators.bpe import bpe_train, word_counts

    docs = spark.createDataFrame([(0, " ".join(words))], "doc_id long, text string")
    got = [
        (r["iteration"], r["left_tok"], r["right_tok"], r["pair_freq"])
        for r in bpe_train(word_counts(docs), iters=3).collect()
    ]

    vocab = Counter(words)
    seqs = {w: list(w) for w in vocab}
    want = []
    for it in range(1, 4):
        pairs = Counter()
        for w, n in vocab.items():
            s = seqs[w]
            for a, b in zip(s, s[1:]):
                pairs[(a, b)] += n
        if not pairs:
            break
        (l, r), f = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((it, l, r, f))
        for w in seqs:
            s, merged, i = seqs[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    merged.append(l + r)
                    i += 2
                else:
                    merged.append(s[i])
                    i += 1
            seqs[w] = merged
    assert got == want


_snap_rows = st.lists(
    st.tuples(st.integers(0, 20), st.integers(0, 2), st.integers(-50, 50)),
    max_size=14, unique_by=lambda t: t[0],
)


@given(old=_snap_rows, new=_snap_rows)
@_settings
def test_apply_cdc_rollup_equals_recompute(spark, old, new):
    """CDC-maintained count/sum rollup == full recompute over the new
    snapshot, for ANY pair of snapshots (group migration, deletes down
    to empty groups, inserts into new groups)."""
    from pyspark.sql import functions as F

    from python_openetl_spark.operators.merge import snapshot_diff
    from python_openetl_spark.operators.rollup import apply_cdc_rollup

    schema = "pk long, g long, v double"
    old_df = spark.createDataFrame(
        [(k, g, float(v)) for k, g, v in old], schema
    )
    new_df = spark.createDataFrame(
        [(k, g, float(v)) for k, g, v in new], schema
    )
    rollup_old = old_df.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("v").cast("decimal(24,6)")).alias("sum_v"),
    )
    cdc = snapshot_diff(old_df, new_df, "pk", include_old=True)
    got = {
        r["g"]: (r["n_rows"], float(r["sum_v"] or 0))
        for r in apply_cdc_rollup(rollup_old, cdc, ["g"], ["v"]).collect()
    }
    want = {
        r["g"]: (r["n_rows"], float(r["sum_v"] or 0))
        for r in new_df.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("v").cast("decimal(24,6)")).alias("sum_v"),
        )
        .collect()
    }
    assert got == want


# ---------------------------------------------------------------- ranking --

_rank_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=200),  # id (unique-ified below)
        st.one_of(
            st.none(),
            st.integers(min_value=-3, max_value=3),  # heavy ties + NULLs
        ),
    ),
    max_size=14,
)


@given(rows=_rank_rows, desc=st.booleans(), k=st.integers(min_value=1, max_value=7))
@_settings
def test_global_ntile_matches_window_on_arbitrary_input(spark, rows, desc, k):
    """operators/ranking.py: exact NTILE parity with the partitionless
    window it replaces, under arbitrary ties, NULLs, and bucket counts."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from python_openetl_spark.operators.ranking import global_ntile

    uniq = {i: v for i, v in rows}  # ids must make the ordering total
    data = [(int(i), None if v is None else float(v)) for i, v in uniq.items()]
    if not data:
        return
    df = spark.createDataFrame(data, "id long, v double")
    got = {
        (r["id"], r["b"])
        for r in global_ntile(
            df, "v", ["id"], k=k, descending=desc, bands=3, out_col="b"
        ).collect()
    }
    order = [F.col("v").desc() if desc else F.col("v").asc(), F.col("id").asc()]
    want = {
        (r["id"], r["b"])
        for r in df.withColumn("b", F.ntile(k).over(Window.orderBy(*order))).collect()
    }
    assert got == want


# -------------------------------------------------------------- hierarchy --

_edges = st.dictionaries(
    keys=st.integers(min_value=1, max_value=40),
    values=st.integers(min_value=0, max_value=39),
    max_size=14,
)


@given(edges=_edges)
@_settings
def test_tree_depths_matches_reference_on_arbitrary_forests(spark, edges):
    """operators/hierarchy.py: pointer doubling equals the sequential
    parent-chase on arbitrary acyclic forests (parent < node makes any
    generated relation a DAG pointing downward)."""
    from python_openetl_spark.operators.hierarchy import tree_depths

    edges = {n: p for n, p in edges.items() if p < n}  # acyclic by construction
    if not edges:
        return
    df = spark.createDataFrame(list(edges.items()), "node long, parent long")
    got = {r["node"]: (r["root"], r["depth"]) for r in tree_depths(df).collect()}
    want = {}
    for n in edges:
        d, a = 0, n
        while a in edges:
            a, d = edges[a], d + 1
        want[n] = (a, d)
    assert got == want


# --- distributed kNN join exactness (round 7) -------------------------------

_vec = st.lists(
    st.floats(min_value=-4.0, max_value=4.0, allow_nan=False, width=32),
    min_size=4, max_size=4,
)
_corpus = st.lists(_vec, min_size=2, max_size=24)


@given(vecs=_corpus, dup_of=st.integers(min_value=0, max_value=100))
@_settings
def test_block_knn_join_matches_bruteforce_with_ties(spark, vecs, dup_of):
    """cosine_knn_join must equal cosine_topk on arbitrary corpora —
    including planted EXACT-duplicate vectors, which force cos_sim
    ties that only the shared (cos desc, id asc) tie-break resolves,
    and zero-norm vectors, which both score 0.0 under the norm floor;
    tiny blocks force block-local truncation + global re-rank."""
    from pyspark.sql import functions as F

    from python_openetl_spark.operators.knn_join import cosine_knn_join
    from python_openetl_spark.operators.similarity import cosine_topk

    vecs.append(list(vecs[dup_of % len(vecs)]))  # planted exact duplicate
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    queries = corpus.filter((F.col("vec_id") % 3) == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["rank"], r["vec_id"])
        for r in cosine_topk(corpus, queries, k=3).collect()
    }
    got = {
        (r["query_id"], r["rank"], r["vec_id"])
        for r in cosine_knn_join(
            corpus, queries, k=3, corpus_block_rows=5, query_block_rows=2
        ).collect()
    }
    assert got == exact


_payloads = st.lists(
    st.one_of(
        st.none(),
        st.binary(min_size=0, max_size=200),
    ),
    min_size=1,
    max_size=8,
)


@given(payloads=_payloads)
@_settings
def test_cdc_chunks_partition_the_payload(spark, payloads):
    """Content-defined chunk boundaries PARTITION each payload: chunks
    are non-empty, contiguous, and concatenate back to the exact bytes
    — verified against a local recompute of the same rolling-hash rule
    on arbitrary payloads (incl. shorter than the window)."""
    import hashlib

    import numpy as np

    from python_openetl_spark.operators.multimodal import cdc_chunk_fingerprints

    rows = [(i, b) for i, b in enumerate(payloads)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {}
    for r in cdc_chunk_fingerprints(df, divisor=4).collect():
        got.setdefault(r["doc_id"], set()).add(r["chunk_fp"])
    window, divisor = 8, 4
    weights = np.array(
        [pow(1099511628211, window - 1 - j, 1 << 64) for j in range(window)],
        dtype=np.uint64,
    )
    for i, b in rows:
        if b is None or len(b) == 0:
            assert i not in got
            continue
        arr = np.frombuffer(b, dtype=np.uint8).astype(np.uint64)
        if len(arr) >= window:
            wins = np.lib.stride_tricks.sliding_window_view(arr, window)
            h = (wins * weights).sum(axis=1)
            cuts = (np.nonzero(h % divisor == divisor - 1)[0] + window).tolist()
        else:
            cuts = []
        bounds = [0, *cuts, len(b)]
        chunks = [b[s:e] for s, e in zip(bounds, bounds[1:]) if e > s]
        assert b"".join(chunks) == b  # partition property
        want = {
            int.from_bytes(hashlib.sha256(c).digest()[:8], "big", signed=True)
            for c in chunks
        }
        assert got.get(i, set()) == want


_texts = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=60),
    min_size=1,
    max_size=8,
)


@given(texts=_texts)
@_settings
def test_paragraph_dedup_invariants(spark, texts):
    """On arbitrary texts: kept <= total paragraphs; every document's
    reassembled text is a subsequence of its original paragraphs; the
    union of kept paragraph contents has no duplicates globally; the
    total kept count equals the number of DISTINCT paragraphs."""
    import re

    from python_openetl_spark.operators.dedup import paragraph_dedup

    P = 3
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in paragraph_dedup(df, para_tokens=P).collect()}
    all_paras = {}
    kept_all = []
    for i, t in rows:
        toks = [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]
        paras = [" ".join(toks[j : j + P]) for j in range(0, len(toks), P)]
        if not paras:
            assert i not in out
            continue
        r = out[i]
        assert r["n_paras"] == len(paras)
        assert 0 <= r["n_kept"] <= r["n_paras"]
        kept_local = [p for p in paras if p not in all_paras]
        # min-(doc,idx) convention: first occurrence in doc order wins,
        # and within a doc the earlier index wins
        seen_in_doc = set()
        expect = []
        for p in paras:
            if p not in all_paras and p not in seen_in_doc:
                expect.append(p)
                seen_in_doc.add(p)
        for p in seen_in_doc:
            all_paras[p] = i
        assert r["n_kept"] == len(expect)
        assert r["text_dedup"] == " ".join(expect)
        kept_all.extend(expect)
        del kept_local
    assert len(kept_all) == len(set(kept_all))


_seq_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),    # user
        st.integers(min_value=0, max_value=40),   # seconds
        st.sampled_from(["a", "b", "c"]),          # event type
    ),
    max_size=14,
)


@given(events=_seq_events, gap=st.integers(min_value=1, max_value=20))
@_settings
def test_match_sequence_matches_bruteforce(spark, events, gap):
    """operators/funnel.py match_sequence vs a brute-force Python
    scan: same strict-adjacency matches, same per-transition time
    bound, under arbitrary ties (same user+second pairs are ordered by
    event_id, which the oracle mirrors)."""
    from pyspark.sql import functions as F

    from python_openetl_spark.operators.funnel import match_sequence

    rows = [
        (i, u, s * 1_000_000, t) for i, (u, s, t) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, us long, event_type string"
    ).select(
        "event_id", "user_id",
        F.timestamp_micros(F.col("us")).alias("ts"), "event_type",
    )
    steps = ["event_type = 'a'", "event_type = 'b'", "event_type = 'c'"]
    got = {
        (r["user_id"], r["start_us"], r["end_us"])
        for r in match_sequence(
            df, steps, max_gap_us=gap * 1_000_000
        ).collect()
    }

    # brute force: per user, sort by (us, event_id), scan adjacent runs
    want = set()
    by_user: dict = {}
    for i, (u, s, t) in enumerate(events):
        by_user.setdefault(u, []).append((s * 1_000_000, i, t))
    for u, evs in by_user.items():
        evs.sort()
        for j in range(len(evs) - 2):
            (us0, _, t0), (us1, _, t1), (us2, _, t2) = evs[j : j + 3]
            if (
                (t0, t1, t2) == ("a", "b", "c")
                and us1 - us0 <= gap * 1_000_000
                and us2 - us1 <= gap * 1_000_000
            ):
                want.add((u, us0, us2))
    assert got == want
