"""functions/vectors.py: the one scoring contract of the similarity
family (norm floor, (score desc, id asc) tie-break, self-exclusion,
local then global top-k, one cell rule) — its zero-norm behaviour on
every exact verb, and a source guard that no vector module restates
it."""

from __future__ import annotations

import pathlib

import numpy as np
import pytest

from python_openetl_spark.functions.vectors import nearest_cells, unit_rows

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "python_openetl_spark"
VECTOR_MODULES = (
    "similarity",
    "knn_join",
    "pq",
    "ivf_store",
    "ivfpq_store",
    "kmeans",
    "late_interaction",
)

# row 3 is zero-norm; row 5 is orthogonal to query 100, so it ties the
# zero row at 0.0 and the id breaks the tie
CORPUS = [
    (0, [-1.0, 0.1, 0.0, 0.0]),
    (1, [-1.0, 0.0, 0.2, 0.0]),
    (2, [0.5, 0.5, 0.0, 0.0]),
    (3, [0.0, 0.0, 0.0, 0.0]),
    (4, [-1.0, -1.0, 0.0, 0.0]),
    (5, [0.0, 0.0, 0.0, -1.0]),
    (6, [-0.3, -0.2, 0.9, 0.1]),
]
QUERIES = [(100, [1.0, 0.0, 0.0, 0.0]), (101, [0.0, 0.0, 0.0, 0.0])]


@pytest.fixture()
def frames(spark):
    corpus = spark.createDataFrame(
        [(i, "a", v) for i, v in CORPUS], "vec_id long, label string, embedding array<float>"
    )
    queries = spark.createDataFrame(
        [(i, "a", v) for i, v in QUERIES],
        "query_id long, label string, embedding array<float>",
    )
    return corpus, queries


def _scores(df, query_col="query_id", id_col="vec_id"):
    return {(r[query_col], r[id_col]): r["cos_sim"] for r in df.collect()}


def test_zero_norm_rows_score_zero_on_every_exact_verb(spark, frames):
    """A zero-norm corpus row and a zero query score 0.0 against
    everything (under ANSI the unfloored cosine raised DIVIDE_BY_ZERO),
    and the block kNN join returns exactly the brute-force rows."""
    from python_openetl_spark.operators.knn_join import cosine_knn_join
    from python_openetl_spark.operators.similarity import (
        cosine_pairs_exact,
        cosine_topk,
        filtered_cosine_topk,
        matryoshka_topk,
    )

    corpus, queries = frames
    n = len(CORPUS)
    verbs = {
        "cosine_topk": cosine_topk(corpus, queries, k=n),
        "filtered_cosine_topk": filtered_cosine_topk(corpus, queries, "label", k=n),
        "matryoshka_topk": matryoshka_topk(
            corpus, queries, prefix_dims=2, k=n, rerank_factor=2
        ),
    }
    for name, out in verbs.items():
        got = _scores(out)
        assert len(got) == 2 * n, name
        assert got[(100, 3)] == 0.0, name
        assert all(got[(101, i)] == 0.0 for i, _ in CORPUS), name
    pairs = _scores(cosine_pairs_exact(corpus, threshold=-1.0), "id_a", "id_b")
    assert len(pairs) == n * (n - 1) // 2
    assert all(s == 0.0 for (a, b), s in pairs.items() if 3 in (a, b))

    def ranked(df):
        return sorted(
            (r["query_id"], r["rank"], r["vec_id"], r["cos_sim"]) for r in df.collect()
        )

    exact = ranked(cosine_topk(corpus, queries, k=3))
    assert exact[:3] == [(100, 1, 2, exact[0][3]), (100, 2, 3, 0.0), (100, 3, 5, 0.0)]
    assert [r[2] for r in exact[3:]] == [0, 1, 2]  # the zero query: all ties
    joined = cosine_knn_join(
        corpus, queries, k=3, corpus_block_rows=2, query_block_rows=1
    )
    assert ranked(joined) == exact


def test_cell_rule_argmax_is_first_column_of_stable_argsort():
    rng = np.random.default_rng(5)
    cents = unit_rows(rng.standard_normal((6, 4)))
    cents[4] = cents[1]  # tied centroids: the lower cell wins
    mat = unit_rows(np.vstack([rng.standard_normal((40, 4)), cents[1], np.zeros(4)]))
    assert not np.isnan(mat).any() and (mat[-1] == 0.0).all()
    order = nearest_cells(mat, cents, 6)
    assert (order == np.argsort(-(mat @ cents.T), axis=1, kind="stable")).all()
    assert (nearest_cells(mat, cents)[:, 0] == order[:, 0]).all()
    assert order[-2, 0] == 1 and order[-1, 0] == 0  # tie -> 1, zero row -> 0


def test_scoring_contract_lives_only_in_vectors():
    """The norm floor literal appears nowhere outside functions/
    vectors.py, and no vector module builds its own top-k window,
    normaliser or cell ranking."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel != "functions/vectors.py" and "1e-300" in path.read_text():
            offenders.append(f"{rel}: 1e-300")
    for name in VECTOR_MODULES:
        text = (PACKAGE / "operators" / f"{name}.py").read_text()
        for needle in (
            "row_number().over(",
            "Window.partitionBy(",
            "/ np.linalg.norm(",
            "/ np.maximum(",
            "np.argsort(-(",
            "np.lexsort(",
        ):
            if needle in text:
                offenders.append(f"operators/{name}.py: {needle}")
    assert offenders == []
